"""Deterministic page generator for the KG-construction benchmark.

Every page is a pure function of ``(seed, doc_id, spec)``: a keyed hash is
the only source of randomness, so the same seed gives byte-identical inputs
in every run and every process. Pages plant mentions in the mock-LLM surface
grammar (``mmkg_rag_spark.kernels.mockllm``):

    entity    **Name** is a <label phrase> that <description>.
    alias     **Name** (also known as A1; A2) is a ...
    relation  **Source** <verb phrase> **Target**.
    image     ![caption](path)

A *variant* mention spells an entity differently from its catalog name, in
one of three ways: tokens reordered (same token-sorted norm, exact dedup
path), an alias marker (extra alias strings), or one doubled letter (a
near-duplicate only the similarity verify can merge). Each entity has at
most one misspelling, so every merge group is a clique and the engine's
connected-components closure equals the reference's greedy grouping.

Entity choice per page is Zipf-skewed over the vocabulary (``head_skew`` is
the exponent), so a few head entities recur on many pages.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import os
from dataclasses import asdict, dataclass

from mmkg_rag_spark.kernels.mockllm import LABEL_PHRASES, RELATION_PHRASES

_KINDS = sorted(LABEL_PHRASES)
_VERBS = sorted(RELATION_PHRASES)
_SYLL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]  # 70 syllables
_FILLER = (
    "Operators reviewed caching, indexing and storage budgets for the "
    "mirrored archive without reaching a final decision on the schedule"
)


@dataclass(frozen=True)
class Spec:
    """Input properties the program's strategy switches depend on."""

    vocab: int             # distinct catalog entities
    first_names: int       # pool of first tokens (token sharing between names)
    variant_share: float   # share of entity mentions spelled as a variant
    filler_paras: int      # filler paragraphs after each entity (page length)
    image_share: float     # share of pages carrying one image
    head_skew: float       # Zipf exponent of entity choice
    ents_per_page: int = 4
    rels_per_page: int = 2


def _h(*parts) -> int:
    raw = "\x1f".join(str(p) for p in parts).encode()
    return int.from_bytes(hashlib.blake2b(raw, digest_size=8).digest(), "big")


def _unit(*parts) -> float:
    return _h(*parts) / 2.0**64


def _word(n: int, k: int) -> str:
    """k-syllable word spelling the integer n (injective for n < 70**k)."""
    out = []
    for _ in range(k):
        n, r = divmod(n, len(_SYLL))
        out.append(_SYLL[r])
    return "".join(out).capitalize()


def vocabulary(seed: int, size: int, first_names: int) -> list[dict]:
    """Catalog entities: unique two-token names, a kind, a description and
    one alias that is shorter than the name and unique to the entity."""
    ents = []
    # odd multiplier mod 70**3 scatters consecutive ids across the space so
    # neighbouring entities do not share a surname prefix
    space = len(_SYLL) ** 3
    for i in range(size):
        first = _word(_h(seed, "first", i % first_names) % (len(_SYLL) ** 2), 2) + "n"
        last = _word((i * 39_119 + seed) % space, 3)
        kind = _KINDS[_h(seed, "kind", i) % len(_KINDS)]
        ents.append({
            "name": f"{first} {last}",
            "kind": kind,
            "desc": f"is recorded in registry volume {i} of the survey",
            "alias": f"{first[0]}. {last}",
        })
    return ents


class Zipf:
    """Deterministic rank sampler: P(rank r) ∝ 1 / r**s."""

    def __init__(self, n: int, s: float):
        acc, cum = 0.0, []
        for r in range(1, n + 1):
            acc += 1.0 / r**s
            cum.append(acc)
        self.cum = cum

    def pick(self, u: float) -> int:
        return min(bisect.bisect_left(self.cum, u * self.cum[-1]), len(self.cum) - 1)


def _misspell(name: str) -> str:
    """Double the second-to-last letter of the last token."""
    return name[:-1] + name[-2] + name[-1]


def _reorder(name: str) -> str:
    return " ".join(reversed(name.split(" ")))


def page_text(seed: int, doc_id: int, spec: Spec, vocab: list[dict], zipf: Zipf) -> tuple[str, dict]:
    """One page's markdown text plus its ground-truth facts."""
    chosen: list[int] = []
    for j in range(spec.ents_per_page * 3):
        idx = zipf.pick(_unit(seed, doc_id, "e", j))
        if idx not in chosen:
            chosen.append(idx)
        if len(chosen) == spec.ents_per_page:
            break
    paras = [f"# Survey digest {doc_id}"]
    surface: dict[int, str] = {}
    strings: list[str] = []
    variants = 0
    image = None
    for j, idx in enumerate(chosen):
        ent = vocab[idx]
        name, alias_marker = ent["name"], ""
        if _unit(seed, doc_id, "v", j) < spec.variant_share:
            variants += 1
            kind = _h(seed, doc_id, "vk", j) % 3
            if kind == 0:
                name = _reorder(name)
            elif kind == 1:
                alias_marker = f" (also known as {ent['alias']})"
            else:
                name = _misspell(name)
        surface[idx] = name
        strings.append(name)
        if alias_marker:
            strings.append(ent["alias"])
        article = "an" if ent["kind"][0] in "aeiou" else "a"
        paras.append(
            f"**{name}**{alias_marker} is {article} {ent['kind']} that {ent['desc']}."
        )
        if j == 0 and _unit(seed, doc_id, "img") < spec.image_share:
            image = f"images/s{seed}_{doc_id}.png"
            paras.append(f"![{ent['name']}]({image})")
        for p in range(spec.filler_paras):
            paras.append(f"{_FILLER} in round {p} of digest {doc_id}.")
    n_rels = 0
    if len(chosen) >= 2:
        for j in range(spec.rels_per_page):
            a = chosen[_h(seed, doc_id, "ra", j) % len(chosen)]
            b = chosen[_h(seed, doc_id, "rb", j) % len(chosen)]
            if a == b:
                continue
            verb = _VERBS[_h(seed, doc_id, "rv", j) % len(_VERBS)]
            paras.append(f"**{surface[a]}** {verb} **{surface[b]}**.")
            n_rels += 1
    facts = {"entities": chosen, "mentions": len(chosen), "variants": variants,
             "strings": strings, "image": image}
    return "\n\n".join(paras), facts


def generate(seed: int, spec: Spec, doc_ids: range) -> tuple[list[dict], dict]:
    """Page rows (url, warc_ts, html, text, lang) and measured input shares."""
    from mmkg_rag_spark.sources.pages import render_html

    vocab = vocabulary(seed, spec.vocab, spec.first_names)
    zipf = Zipf(spec.vocab, spec.head_skew)
    base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    rows, seen, images, norms = [], set(), [], set()
    mentions = variants = 0
    for d in doc_ids:
        text, facts = page_text(seed, d, spec, vocab, zipf)
        url = f"https://site{d % 89}.example/doc/{d}"
        rows.append({
            "url": url,
            "warc_ts": base + dt.timedelta(seconds=_h(seed, d, "ts") % 86_400_000),
            "html": render_html(url, text),
            "text": text,
            "lang": "en",
        })
        seen.update(facts["entities"])
        norms.update(" ".join(sorted(x.upper().split())) for x in facts["strings"])
        mentions += facts["mentions"]
        variants += facts["variants"]
        if facts["image"]:
            images.append(facts["image"])
    stats = {
        "pages": len(rows),
        "entities_seen": len(seen),
        "distinct_norms": len(norms),
        "variant_share": variants / max(mentions, 1),
        "image_share": len(images) / max(len(rows), 1),
        "mean_page_chars": sum(len(r["text"]) for r in rows) / max(len(rows), 1),
        "spec": asdict(spec),
    }
    return rows, {"stats": stats, "images": images, "entities": sorted(seen)}


def stage(rows: list[dict], path: str) -> None:
    """Write page rows as a parquet table of four files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // 4)
    for k in range(4):
        part = rows[k * step:(k + 1) * step]
        if part:
            pq.write_table(pa.Table.from_pylist(part, schema), os.path.join(path, f"part-{k}.parquet"))


def stage_paths(paths: list[str], path: str) -> None:
    """The asset manifest: one ``path`` column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"path": pa.array(paths, pa.string())}), os.path.join(path, "part-0.parquet"))


def keywords(seed: int, vocab: list[dict], known: list[int], n: int) -> list[tuple[str, bool]]:
    """Query keywords, Zipf-skewed (exponent 1) over the entities in the
    stored graph; every fourth, starting with the second, drops one letter.
    Returns (keyword, exact) pairs.

    The popularity ranks queried, and which queries are misspelled, do not
    depend on the seed: every seed asks for the same mix of head and tail
    entities, so query cost varies with the program, not with the draw."""
    zipf = Zipf(len(known), 1.0)
    out = []
    for q in range(n):
        name = vocab[known[zipf.pick(_unit("q", q))]]["name"]
        if q % 4 == 1:
            k = 1 + _h(seed, "qp", q) % (len(name) - 2)
            out.append((name[:k] + name[k + 1:], False))  # one dropped letter
        else:
            out.append((name, True))
    return out
