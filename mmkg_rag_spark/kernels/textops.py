"""Text-scanning kernels: image scans, reference completion, scalar helpers.

Replicates (with golden-test parity) the reference's regex/text utilities:
``extract_images`` (mmodal.py:80-120), ``extract_image_links``
(utils/helper.py:15-36), ``complete_reference``'s inner search
(index/text.py:162-182), ``shorten_string`` (helper.py:39-45), ``md5``
(helper.py:10-12).
"""

from __future__ import annotations

import hashlib
import re

MD_IMAGE_WITH_PATH = re.compile(r"!\[(?:[^\]]*)\]\(([^)]+)\)")
_MD_IMAGE_LINK = re.compile(r"!\[.*?\]\((.*?)\)")
_HTML_IMAGE_LINK = re.compile(r'<img.*?src=["\'](.*?)["\'].*?>')

VALID_IMAGE_SUFFIXES = ("jpg", "jpeg", "png", "gif", "webp")  # mmodal.py:50


def md5(s: str) -> str:
    """Hex md5 of the utf-8 encoding (helper.py:10-12)."""
    return hashlib.md5(s.encode()).hexdigest()


def shorten_string(text: str, head: int, tail: int) -> str:
    """Keep head+tail with ellipsis when longer (helper.py:39-45)."""
    if len(text) <= head + tail:
        return text
    return text[:head] + "..." + text[-tail:]


def extract_image_links(markdown_text: str) -> list[str]:
    """All image URLs (markdown + html syntax), deduped.

    Parity with ``extract_image_links`` (helper.py:15-36) except the reference
    returns ``list(set(...))`` in arbitrary order (helper.py:34); we sort for
    determinism — the set *contents* are identical.
    """
    found = _MD_IMAGE_LINK.findall(markdown_text) + _HTML_IMAGE_LINK.findall(markdown_text)
    return sorted(set(found))


def extract_images_with_context(text: str) -> list[tuple[str, str]]:
    """Markdown images with ±200-char sentence-trimmed context.

    Parity with ``extract_images`` (mmodal.py:80-120): context window is
    [match.start-200, match.end+200]; when truncated at the front, drop up to
    the first '.'/'\\n' (whichever comes first) and lstrip; when truncated at
    the back, cut after the last '.'/'\\n'; finally strip().
    """
    out = []
    for m in MD_IMAGE_WITH_PATH.finditer(text):
        start = max(0, m.start() - 200)
        end = min(len(text), m.end() + 200)
        context = text[start:end]
        if start > 0:
            breaks = [i for i in (context.find("."), context.find("\n")) if i != -1]
            if breaks:
                context = context[min(breaks) + 1 :].lstrip()
        if end < len(text):
            last_break = max(context.rfind("."), context.rfind("\n"))
            if last_break != -1:
                context = context[: last_break + 1]
        out.append((m.group(1), context.strip()))
    return out


def find_complete_text(ref: str, full_text: str) -> str:
    """Expand a ``"start...end"`` reference to its shortest full span.

    Parity with the inner ``find_complete_text`` (text.py:162-182): exactly one
    '...' split; for each start occurrence take the *first* end occurrence after
    it; return the shortest candidate, else the original ref.
    """
    parts = ref.split("...")
    if len(parts) != 2:
        return ref
    start, end = parts[0].strip(), parts[1].strip()
    best: str | None = None
    pos = full_text.find(start)
    while pos != -1:
        end_pos = full_text.find(end, pos + len(start))
        if end_pos != -1:
            candidate = full_text[pos : end_pos + len(end)]
            if best is None or len(candidate) < len(best):
                best = candidate
        pos = full_text.find(start, pos + 1)
    return best if best is not None else ref


def complete_references(refs: list[str] | None, full_text: str) -> list[str] | None:
    """Apply ``find_complete_text`` to each reference (text.py:184-196)."""
    if not refs:
        return refs
    return [find_complete_text(r, full_text) for r in refs]


def promote_canonical_name(name: str, aliases: list[str]) -> tuple[str, list[str]]:
    """Longest of [name]+aliases wins; the rest become aliases.

    Parity with the alias promotion in ``find_alias`` (text.py:39-51):
    ``max(key=len)`` keeps the *first* longest on ties, and the original name
    joins the alias list unless it is the winner.
    """
    all_names = [name] + list(aliases)
    full_name = max(all_names, key=len)
    others = [n for n in all_names if n != full_name]
    return full_name, others


def relation_pair_key(source: str, target: str) -> tuple[str, str]:
    """Unordered, uppercased endpoint pair — the relation-group key.

    Parity with ``same_relation`` (deduplicate.py:237-243): endpoints sorted
    *case-sensitively* first, then compared uppercased.
    """
    a, b = sorted([source, target])
    return a.upper(), b.upper()
