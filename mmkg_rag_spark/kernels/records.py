"""Record types mirroring the reference data model.

Reference: pydantic models at /root/reference/src/mmkg_rag/types/
  - Entity   (entity.py:5-47)  — identity on (name, label, description)
  - Relation (relation.py:5-48) — identity on (source, target, label, description)
  - Image    (image.py:5-20)   — keyed by path
  - Chunk    (chunk.py:5-14)

Implemented as plain dataclasses (no pydantic dependency on executors).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Chunk:
    id: int
    text: str
    images: list[str] | None = None


@dataclass
class Entity:
    name: str
    description: str = ""
    label: str = ""
    references: list[str] | None = None
    aliases: list[str] | None = None
    images: list[str] | None = None
    chunks: list[int] | None = None

    def __hash__(self):  # entity.py:28-29
        return hash(self.name + self.label + self.description)

    def __eq__(self, other):  # entity.py:31-38
        if not isinstance(other, Entity):
            return False
        return (
            self.name == other.name
            and self.label == other.label
            and self.description == other.description
        )


@dataclass
class Relation:
    source: str
    target: str
    label: str
    references: list[str] | None = None
    images: list[str] | None = None
    chunks: list[int] | None = None
    description: str | None = None

    def __hash__(self):  # relation.py:28-29
        return hash(self.source + self.target + self.label)

    def __eq__(self, other):  # relation.py:31-39
        if not isinstance(other, Relation):
            return False
        return (
            self.source == other.source
            and self.target == other.target
            and self.label == other.label
            and self.description == other.description
        )


@dataclass
class Image:
    path: str
    caption: str = ""
    description: str = ""
    texts: list[str] | None = field(default=None)
