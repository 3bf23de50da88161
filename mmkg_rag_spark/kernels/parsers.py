"""LLM-output parsing kernels, semantics-faithful to the reference.

Each function documents the reference behavior it replicates
(file:line in /root/reference). Quirks are intentional and covered by ported
golden tests (tests/test_parsers.py); do NOT "fix" them — the P/R gate compares
against a reference replica built on these exact semantics:

- ``scan_json_objects`` uses a *non-nesting* brace regex, so JSON objects that
  contain ``{}`` in any value are silently dropped (parser.py:324).
- An object is kept only if **every** requested field is present and non-None
  (parser.py:334-341).
- An object is classified entity vs relation by which field set it satisfies
  (parser.py:107-113).
"""

from __future__ import annotations

import json
import re

from .records import Entity, Relation

# Non-nesting JSON object matcher (parser.py:324). DOTALL so descriptions may
# span lines; objects with nested braces never match (intentional parity quirk).
_FLAT_JSON_OBJ = re.compile(r"\{(?:[^{}])*\}", re.DOTALL | re.MULTILINE)

# Greedy brace matcher used by the merge/classify parsers (parser.py:179,217,261).
_GREEDY_JSON_OBJ = re.compile(r"\{.*\}", re.DOTALL)

ENTITY_FIELDS = ["name", "label", "description", "aliases", "references"]
RELATION_FIELDS = ["source", "label", "target", "description", "references"]

_STRLIST_ITEM = re.compile(r'(?:[^,"\\]|\\.)+|"(?:[^"\\]|\\.)*"|\'(?:[^\'\\]|\\.)*\'')


def parse_string_list(text: str) -> list[str]:
    """Parse ``["a", "b"]``-ish text tolerating trailing commas and escapes.

    Parity with ``_parse_string_list`` (parser.py:14-40): raises ValueError when
    not bracket-enclosed; splits on the same escape-aware regex; strips quotes
    and unescapes ``\\" \\' \\\\`` per item.
    """
    if not (text.startswith("[") and text.endswith("]")):
        raise ValueError("Input must be enclosed in square brackets")
    body = text[1:-1].strip()
    if not body:
        return []
    out = []
    for raw in _STRLIST_ITEM.findall(body):
        if not raw.strip(", "):
            continue
        item = raw.strip().strip("\"'")
        item = item.replace('\\"', '"').replace("\\'", "'").replace("\\\\", "\\")
        out.append(item)
    return out


def scan_json_objects(text: str, fields: list[str]) -> list[dict]:
    """Scan flat JSON objects keeping only those with all ``fields`` non-None.

    Parity with ``_parse_json_object`` (parser.py:313-349): nested objects are
    invisible to the regex; parse failures are skipped; field projection keeps
    exactly the requested keys.
    """
    results = []
    for m in _FLAT_JSON_OBJ.finditer(text):
        try:
            data = json.loads(m.group(0))
        except (json.JSONDecodeError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        projected = {}
        for f in fields:
            v = data.get(f, None)
            if v is None:
                break
            projected[f] = v
        else:
            results.append(projected)
    return results


def parse_er(rawtext: str) -> tuple[list[Entity], list[Relation]]:
    """Extract entity/relation records from raw LLM output.

    Parity with ``parse_er`` (parser.py:100-135): an object satisfying the
    entity field set becomes an Entity, one satisfying the relation field set
    becomes a Relation; both scans run over the same text.
    """
    es = [
        Entity(
            name=d.get("name", ""),
            label=d.get("label", ""),
            description=d.get("description", ""),
            aliases=d.get("aliases", []),
            references=d.get("references", []),
        )
        for d in scan_json_objects(rawtext, ENTITY_FIELDS)
    ]
    rs = [
        Relation(
            source=d.get("source", ""),
            label=d.get("label", ""),
            target=d.get("target", ""),
            description=d.get("description", ""),
            references=d.get("references", []),
        )
        for d in scan_json_objects(rawtext, RELATION_FIELDS)
    ]
    return es, rs


_ALIAS_LINE = re.compile(r'<\s*(?:"([^"]+)"|([^,]+))\s*,\s*(\[[^\]]*\])\s*>', re.MULTILINE)


def parse_alias(text: str) -> list[tuple[str, list[str]]]:
    """Parse ``<ENTITY, ["A1", ...]>`` alias lines.

    Parity with ``parse_alias`` (parser.py:138-172): quoted or unquoted entity
    names; malformed alias lists are skipped, not fatal.
    """
    out: list[tuple[str, list[str]]] = []
    for m in _ALIAS_LINE.finditer(text):
        entity = (m.group(1) or m.group(2) or "").strip()
        try:
            alias_list = parse_string_list(m.group(3).strip())
        except (ValueError, TypeError):
            continue
        if entity:
            out.append((entity, alias_list))
    return out


def parse_image_description(text: str) -> tuple[str, list, str]:
    """Parse ``{caption, text_snippets, description}`` with empty defaults.

    Parity with ``parse_image_description`` (parser.py:249-281).
    """
    m = _GREEDY_JSON_OBJ.search(text)
    if not m:
        return "", [], ""
    try:
        data = json.loads(m.group(0))
    except (json.JSONDecodeError, ValueError):
        return "", [], ""
    if not isinstance(data, dict):
        return "", [], ""
    return data.get("caption", ""), data.get("text_snippets", []), data.get("description", "")


_JSON_LIST = re.compile(r"\[.*\]", re.DOTALL)


def parse_json_list(text: str, fields: list[str] | None = None) -> list:
    """Parse the first JSON list in ``text``; optionally project fields.

    Parity with ``parse_json_list`` (parser.py:284-310): projection fills
    missing fields with None; any failure returns [].
    """
    m = _JSON_LIST.search(text)
    if not m:
        return []
    try:
        data = json.loads(m.group(0))
    except (json.JSONDecodeError, ValueError):
        return []
    except Exception:
        return []
    if fields:
        try:
            return [{f: item.get(f, None) for f in fields} for item in data]
        except AttributeError:
            return []
    return data


def parse_classify_response(response: str) -> tuple[str, str | list[str]]:
    """Classify-query parser with ``("retrieval", [])`` fallback.

    Parity with ``parse_classify_response`` (retrieval/parser.py:9-41),
    including the KeyError → fallback path when a "direct" object lacks
    "response".
    """
    m = _GREEDY_JSON_OBJ.search(response)
    if not m:
        return "retrieval", []
    try:
        data = json.loads(m.group(0))
        classification = data.get("classification", "retrieval")
        if classification == "direct":
            return "direct", data["response"]
        if classification == "retrieval":
            return "retrieval", data.get("keywords", [])
    except Exception:
        pass
    return "retrieval", []


def parse_agent_defines(text: str) -> list | None:
    """Agent-decomposition parser (parity: retrieval/parser.py:44-69).

    Bug-for-bug: JSONDecodeError → [] and no-JSON-found → [], but any other
    failure (e.g. the object lacks "agents") falls through the bare logging
    handler, which returns **None** in the reference — callers must treat
    None and [] alike (agents.py:47-51 does: ``if not agents: raise``).
    """
    m = _GREEDY_JSON_OBJ.search(text)
    if not m:
        return []
    try:
        data = json.loads(m.group(0))
        return data["agents"]
    except json.JSONDecodeError:
        return []
    except Exception:
        return None
