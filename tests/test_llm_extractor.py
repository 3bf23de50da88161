"""Extractor abstraction: the mock extractor ≡ the oracle's per-chunk
extraction; endpoint client.

Mirrors the reference's LLM-client test layer (tests/llm_test.py: mocked
AsyncOpenAI) — the endpoint client is exercised with an injected transport,
never the network.
"""

from __future__ import annotations

import json

import pytest

from mmkg_rag_spark.llm import EndpointExtractor, MockExtractor
from mmkg_rag_spark.operators.extract import chunk_pages, extract_mentions
from mmkg_rag_spark.sources.pages import gen_pages_df


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-llm")


def test_injected_mock_extractor_equals_default(spark):
    chunks = chunk_pages(gen_pages_df(spark, 20).select("url", "text")).cache()

    def norm(rows):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in rows
        )

    # the one extraction path (MockExtractor, batched model calls) emits
    # the rows of the P/R oracle's own per-chunk extraction
    from mmkg_rag_spark.kernels.records import Chunk
    from mmkg_rag_spark.kernels.refpipeline import extract_chunk
    from mmkg_rag_spark.operators.extract import _er_rows

    default = norm(extract_mentions(chunks).collect())
    rows = chunks.collect()
    objs = [Chunk(id=r.chunk_id, text=r.text) for r in rows]
    oracle = norm(
        _er_rows([r.url for r in rows], objs, [extract_chunk(c) for c in objs])
    )
    assert oracle == default and len(default) > 0


def test_endpoint_extractor_request_and_parse():
    calls = []

    def transport(payload):
        calls.append(payload)
        # an OpenAI-style extractor reply in the parsers' contract
        return (
            '{"name": "Ada Lovelace", "label": "PERSON", '
            '"description": "pioneer", "aliases": [], "references": []}'
        )

    ex = EndpointExtractor(
        base_url="http://example.invalid/v1", model="test-model",
        transport=transport,
    )
    out = ex.index(["Some page text"])
    assert len(out) == 1 and "Ada Lovelace" in out[0]
    payload = calls[0]
    assert payload["model"] == "test-model"
    assert payload["max_tokens"] == 8192  # utils/llm.py:75-86 parity
    assert payload["messages"][1]["content"].endswith("Some page text")

    from mmkg_rag_spark.kernels.parsers import parse_er

    ents, rels = parse_er(out[0])
    assert ents[0].name == "Ada Lovelace" and rels == []

    # alias + describe calls use the same transport
    ex.alias(["text"], [["Ada Lovelace"]])
    ex.describe_image(["img/x.png"], ["context"])
    assert len(calls) == 3
    assert "img/x.png" in calls[2]["messages"][1]["content"]


def test_gleaning_loop_extends_and_stops_on_no(spark):
    """loop>1 parity with reference text.py:97-130: round-2 additions are
    merged into the chunk's mentions; a NO continuation answer stops rounds."""
    from mmkg_rag_spark.llm import (
        ALIAS_PROMPT,
        IF_CONTINUE_PROMPT,
        INDEX_PROMPT,
        LOOP_PROMPT,
    )

    import tempfile

    log_path = tempfile.mktemp(suffix=".calls")

    def transport(payload):
        user = payload["messages"][-1]["content"]
        # the transport runs inside the Spark python worker — log calls
        # through the (shared, local-mode) filesystem, not a closure list
        with open(log_path, "a") as f:
            f.write(user.split("\n")[0][:40] + "\n")
        if user.startswith(INDEX_PROMPT):
            return (
                '{"name": "Ada Lovelace", "label": "PERSON", '
                '"description": "pioneer", "aliases": [], "references": []}'
            )
        if user == LOOP_PROMPT:
            # history must carry the full prior exchange (text.py:93-121)
            contents = [m["content"] for m in payload["messages"]]
            assert any(c.startswith(INDEX_PROMPT) for c in contents)
            assert any("Ada Lovelace" in c for c in contents)
            return (
                '{"name": "Grace Hopper", "label": "PERSON", '
                '"description": "compiler author", "aliases": [], "references": []}'
            )
        if user == IF_CONTINUE_PROMPT:
            return "NO, everything is extracted."
        assert user.startswith(ALIAS_PROMPT[: ALIAS_PROMPT.index("{")])
        return ""

    import functools

    factory = functools.partial(
        EndpointExtractor, base_url="http://example.invalid/v1",
        transport=transport,
    )
    pages = spark.createDataFrame(
        [("u1", "irrelevant — the transport scripts the answers")],
        "url string, text string",
    )
    # loop=3, but the NO answer after round 2 must stop further gleaning
    out = extract_mentions(
        chunk_pages(pages).coalesce(1), extractor_factory=factory, loop=3
    ).collect()
    names = sorted(r.name for r in out if r.kind == "E")
    assert names == ["Ada Lovelace", "Grace Hopper"]
    with open(log_path) as f:
        kinds = f.read().splitlines()
    loop_head = LOOP_PROMPT.split("\n")[0][:40]
    cont_head = IF_CONTINUE_PROMPT.split("\n")[0][:40]
    assert sum(1 for k in kinds if k == loop_head) == 1  # stopped after NO
    assert sum(1 for k in kinds if k == cont_head) == 1


def test_mock_gleaning_is_noop(spark):
    """MockExtractor's first pass is exhaustive: loop=2 output == loop=1."""
    chunks = chunk_pages(gen_pages_df(spark, 10).select("url", "text")).cache()

    def norm(rows):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in rows
        )

    once = norm(extract_mentions(chunks, extractor_factory=MockExtractor).collect())
    looped = norm(
        extract_mentions(chunks, extractor_factory=MockExtractor, loop=2).collect()
    )
    assert looped == once and len(once) > 0


def test_endpoint_extractor_is_picklable_as_factory():
    """partial() factories survive stdlib pickle (Spark's cloudpickle also
    handles lambdas/closures — this pins the stricter contract)."""
    import functools
    import pickle

    factory = functools.partial(
        EndpointExtractor, base_url="http://h/v1", api_key="k"
    )
    f2 = pickle.loads(pickle.dumps(factory))
    ex = f2()
    assert ex.base_url == "http://h/v1" and ex.api_key == "k"



def test_endpoint_extractor_socket_roundtrip():
    """Live-shaped transport (VERDICT r3 item 6): a real HTTP server on a
    localhost socket — not the in-process transport hook — exercising the
    stdlib urllib path end-to-end: request framing (auth header, model,
    max_tokens=8192 parity with reference utils/llm.py:75-86, message
    order), per-item batching, and the 5xx retry."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from mmkg_rag_spark.kernels.mockllm import index_response

    seen: list[dict] = []
    fail_first = {"remaining": 1}

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            assert self.path == "/v1/chat/completions"
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            body["_auth"] = self.headers.get("Authorization")
            seen.append(body)
            if fail_first["remaining"] > 0:
                fail_first["remaining"] -= 1
                self.send_response(500)
                self.end_headers()
                return
            user = body["messages"][-1]["content"]
            # serve the deterministic extraction for the trailing chunk text
            chunk_text = user.rsplit("Text:", 1)[-1].strip() if "Text:" in user else user
            content = index_response(chunk_text)
            resp = json.dumps(
                {"choices": [{"message": {"content": content}}]}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(resp)))
            self.end_headers()
            self.wfile.write(resp)

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        ex = EndpointExtractor(
            base_url=f"http://127.0.0.1:{srv.server_address[1]}/v1",
            api_key="sk-test",
            retry_backoff_sec=0.01,
        )
        texts = [
            "**Ada Lovelace** is a person that pioneered computing.",
            "**Acme Labs** is an organization that builds rockets.",
        ]
        out = ex.index(texts)
        # batching: one HTTP call per input + 1 retried failure
        assert len(out) == 2
        assert len(seen) == 3  # 500 + retry for the first, one for the second
        # framing parity with reference utils/llm.py
        first_ok = seen[1]
        assert first_ok["max_tokens"] == 8192
        assert first_ok["model"] == "gpt-4o-mini"
        assert first_ok["_auth"] == "Bearer sk-test"
        assert first_ok["messages"][0]["role"] == "system"
        assert first_ok["messages"][-1]["role"] == "user"
        # the served payloads parse to the planted entities downstream
        from mmkg_rag_spark.kernels.parsers import parse_er

        ents, _ = parse_er(out[0])
        assert any(getattr(e, "name", None) == "Ada Lovelace" for e in ents)
        # history ordering on the generic chat turn (R1/R6 path)
        hist = [
            {"role": "user", "content": "q1"},
            {"role": "assistant", "content": "a1"},
        ]
        ex.chat("sys", "q2", history=hist)
        assert [m["role"] for m in seen[-1]["messages"]] == [
            "system", "user", "assistant", "user",
        ]
    finally:
        srv.shutdown()
        srv.server_close()


def test_build_kg_through_live_http_extractor(spark):
    """VERDICT r4 item 5: the FULL pipeline — build_kg with an
    EndpointExtractor — against a scripted localhost HTTP server, so the
    batched HTTP extraction runs INSIDE the pandas UDF on real Spark
    python workers (reference utils/llm.py:29-73 semantics end-to-end),
    not just the transport layer. The server serves the deterministic
    index/alias responses, so nodes/edges must equal the hermetic mock
    build exactly."""
    import functools
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from mmkg_rag_spark.kernels.mockllm import alias_response, index_response
    from mmkg_rag_spark.pipeline import build_kg

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            system = body["messages"][0]["content"]
            user = body["messages"][-1]["content"]
            head, _, text = user.rpartition("\n\nTEXT:\n")
            if system == "You find aliases of named entities.":
                names_part = head.split("Entities: ", 1)[1]
                names = [n for n in names_part.split(", ") if n]
                content = alias_response(text, names)
            else:
                content = index_response(text)
            resp = json.dumps(
                {"choices": [{"message": {"content": content}}]}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(resp)))
            self.end_headers()
            self.wfile.write(resp)

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        pages = gen_pages_df(spark, 12).select("url", "text").cache()
        factory = functools.partial(
            EndpointExtractor,
            base_url=f"http://127.0.0.1:{srv.server_address[1]}/v1",
            api_key="sk-test",
            retry_backoff_sec=0.01,
        )
        live = build_kg(
            spark, pages, use_html=False, extractor_factory=factory
        )
        mock = build_kg(spark, pages, use_html=False)

        def node_set(res):
            return {
                (r["name"], r["label"], tuple(sorted(r["aliases"] or [])))
                for r in res.nodes.collect()
            }

        def edge_set(res):
            return {
                (r["source"], r["label"], r["target"])
                for r in res.edges.collect()
            }

        assert node_set(live) == node_set(mock) and len(node_set(live)) > 0
        assert edge_set(live) == edge_set(mock) and len(edge_set(live)) > 0
    finally:
        srv.shutdown()
        srv.server_close()
