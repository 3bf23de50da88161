"""Model-client abstraction: deterministic mock ⇄ OpenAI-compatible endpoint.

SURVEY.md §7.0: the LLM sits behind an ``Extractor`` interface with two
implementations —

- ``MockExtractor``     : deterministic, reference-parser-faithful responses
  generated from the planted-mention grammar (kernels/mockllm.py). Default
  everywhere; keeps the whole engine hermetic and the P/R gate exact.
- ``EndpointExtractor`` : batched OpenAI-compatible chat-completions client
  (reference utils/llm.py:29-73 semantics: base_url + api_key + model,
  max_tokens 8192) over stdlib urllib — no extra dependencies. Prompts are
  original text that pin the SAME output contract the parsers consume
  (JSON objects with {name,label,description,aliases,references} /
  {source,label,target,description,references} fields — parser.py:100-135).

Executors get an extractor via a picklable zero-arg *factory* so each
worker builds its own client (sockets don't survive pickling). Swapping
mock → endpoint is a constructor argument, not a code change:

    build_kg(spark, pages, extractor_factory=lambda: EndpointExtractor(
        base_url=..., api_key=..., model=...))

The factory reaches the one extraction pass
(operators/extract.extract_page_artifacts) from ``build_kg``,
``streaming.process_pages_batch`` / ``stream_build`` alike.
"""

from __future__ import annotations

import json
import urllib.request
from dataclasses import dataclass

from .kernels import mockllm

INDEX_PROMPT = (
    "Extract every entity and relation from the text below. Reply ONLY with "
    "one JSON object per finding: entities as "
    '{"name": ..., "label": ..., "description": ..., "aliases": [...], '
    '"references": [...]} and relations as '
    '{"source": ..., "label": ..., "target": ..., "description": ..., '
    '"references": [...]}. references quote the supporting sentence.\n\nTEXT:\n'
)

ALIAS_PROMPT = (
    "For each entity below, list surface aliases found in the text as lines "
    'of the form <ENTITY_NAME, ["alias1", "alias2"]>. Entities: {names}\n\nTEXT:\n'
)

LOOP_PROMPT = (
    "Some entities or relations may have been missed in your previous answer. "
    "Extract ONLY the additional ones, in the same JSON-object format."
)

IF_CONTINUE_PROMPT = (
    "Answer YES or NO: are there still entities or relations in the text that "
    "have not been extracted yet?"
)

# --- retrieval-side prompts (R1/R6 drivers, original wording pinning the
# reference parsers' contracts: retrieval/prompts.py CLASSIFY_SYSTEM /
# EXTRACT_KEYWORDS / QUERY_DECOMPOSITION / FUSION / GENERATE_KNOWLEDGE) ---

CLASSIFY_SYSTEM_PROMPT = (
    "Decide whether the question needs knowledge-graph retrieval. Reply ONLY "
    'with JSON: {"classification": "direct", "response": "<answer>"} when you '
    'can answer directly, or {"classification": "retrieval", "keywords": '
    '["k1", "k2"]} with the entity keywords to search.'
)

EXTRACT_KEYWORDS_PROMPT = (
    "Extract the entity keywords from the question for knowledge-graph "
    'retrieval. Reply ONLY with JSON: {"classification": "retrieval", '
    '"keywords": ["k1", "k2"]}.'
)

CLASSIFY_USER_PROMPT = "Question: {query}"

DECOMPOSE_SYSTEM_PROMPT = (
    "Design a few agents to answer the question, one per sub-question. Reply "
    'ONLY with JSON: {"agents": [{"name": ..., "task": "<sub-question>", '
    '"suggestions": [...]}]}.'
)

FUSION_SYSTEM_PROMPT = (
    "Fuse the sub-answers below into one final answer to the question."
)

GENERATE_SYSTEM_PROMPT = (
    "Answer the question using ONLY the knowledge provided."
)

GENERATE_KNOWLEDGE_PROMPT = (
    "---Knowledge---\n{knowledge}\n---Question---\n{query}"
)

# --- evaluation-harness prompts (tests/evaluation parity, §2.6 extension):
# persona/task/question generation (questions_generate.py:29-77) and the
# judge comparison contract (compare.py:23-79) — original wording, same
# line-list / JSON output contracts the reference parsers consume ---

GENERATE_PERSONA_PROMPT = (
    "You are given a description of a corpus. Identify potential personas "
    "who might be interested in its content. Return only the list of "
    "personas, one per line."
)

GENERATE_TASK_PROMPT = (
    "You are given a corpus description and a persona. Identify specific "
    "tasks that persona might want to accomplish with the corpus. Return "
    "only the list of tasks, one per line."
)

GENERATE_QUESTION_PROMPT = (
    "You are given a corpus description, a persona, and a task. Generate "
    "questions that require understanding of the entire corpus. Return "
    "only the list of questions, one per line."
)

JUDGE_SYSTEM_PROMPT = (
    "You are given a question and a pair of answers generated by two "
    "different methods. Choose which answer is better on the given metric "
    '(0 if equally good). Reply ONLY with JSON: {"winner": 1, '
    '"explanation": "..."}.'
)

class MockExtractor:
    """Deterministic extractor — emits the mock model's response strings."""

    def index(self, texts: list[str]) -> list[str]:
        return [mockllm.index_response(t) for t in texts]

    def alias(self, texts: list[str], names: list[list[str]]) -> list[str]:
        return [mockllm.alias_response(t, n) for t, n in zip(texts, names)]

    def glean(self, histories: list[list[dict]]) -> list[str]:
        """Gleaning round (reference text.py:97-122): the mock's first pass is
        exhaustive by construction, so further rounds find nothing."""
        return ["" for _ in histories]

    def should_continue(self, histories: list[list[dict]]) -> list[str]:
        return ["NO" for _ in histories]

    def chat(self, system: str, user: str, history: list[dict] | None = None) -> str:
        """Deterministic chat for the retrieval drivers (R1/R6), keyed on the
        system prompt: classify → retrieval with capitalized-phrase keywords;
        decompose → one agent carrying the whole question; generate/fusion →
        deterministic echoes. Keeps the QA layer hermetic under test."""
        import hashlib as _hashlib
        import json as _json
        import re as _re

        def _hash(s: str) -> str:
            return _hashlib.md5(s.encode()).hexdigest()[:6]

        if system in (CLASSIFY_SYSTEM_PROMPT, EXTRACT_KEYWORDS_PROMPT):
            q = user.removeprefix("Question: ")
            kws = []
            for m in _re.finditer(r"[A-Z][A-Za-z0-9]*(?: [A-Z][A-Za-z0-9]*)*", q):
                if len(m.group(0)) > 2 and m.group(0) not in kws:
                    kws.append(m.group(0))
            return _json.dumps({"classification": "retrieval", "keywords": kws})
        if system == DECOMPOSE_SYSTEM_PROMPT:
            q = user.removeprefix("Please design a few agents to answer the question.")
            return _json.dumps(
                {"agents": [{"name": "agent-1", "task": q, "suggestions": []}]}
            )
        if system == FUSION_SYSTEM_PROMPT:
            # the driver's fusion prompt carries the last answer's characters
            # newline-joined (reference agents.py:104-110, kept bug-for-bug);
            # the mock "fuses" by reconstructing the readable text
            return user.split("Answers: \n", 1)[-1].replace("\n", "")
        if system == GENERATE_SYSTEM_PROMPT:
            return "Based on the knowledge provided: " + user.split("\n", 2)[-1][:2000]
        if system in (
            GENERATE_PERSONA_PROMPT, GENERATE_TASK_PROMPT, GENERATE_QUESTION_PROMPT
        ):
            # deterministic numbered lines seeded by the prompt content so
            # the persona→task→question tree is stable and distinct per node
            m = _re.search(r"List (\d+)|Generate (\d+)", user)
            n = int(next(g for g in m.groups() if g)) if m else 5
            seed = _hash(user)
            kind = {
                GENERATE_PERSONA_PROMPT: "A persona",
                GENERATE_TASK_PROMPT: "Task",
                GENERATE_QUESTION_PROMPT: "What does the corpus say about topic",
            }[system]
            if system == GENERATE_QUESTION_PROMPT:
                return "\n".join(
                    f"{i + 1}. {kind} {seed}-{i + 1}?" for i in range(n)
                )
            return "\n".join(
                f"{i + 1}. {kind} {seed}-{i + 1} interested in the corpus"
                for i in range(n)
            )
        if system == JUDGE_SYSTEM_PROMPT:
            # deterministic pseudo-judge: winner is a stable function of the
            # (metric, question, answers) bytes — hermetic win-rate fixtures
            winner = int(_hash(user), 16) % 3
            return _json.dumps(
                {"winner": winner, "explanation": f"deterministic pick {winner}"}
            )
        return ""


@dataclass
class EndpointExtractor:
    """Batched OpenAI-compatible client (chat/completions).

    ``transport`` is injectable for tests; default posts JSON with stdlib
    urllib (no requests dependency). One HTTP call per input — concurrency
    comes from Spark task parallelism, mirroring how the reference's asyncio
    fan-out becomes executor fan-out (SURVEY.md §4).
    """

    base_url: str
    api_key: str = ""
    model: str = "gpt-4o-mini"
    max_tokens: int = 8192  # utils/llm.py:75-86
    temperature: float = 0.0
    timeout_sec: int = 120
    # transport-level retry parity: the reference's AsyncOpenAI client
    # retries 429/5xx/connection errors twice with backoff before raising
    # (openai-python default max_retries=2); the stdlib client does the same
    max_retries: int = 2
    retry_backoff_sec: float = 0.5
    transport: object = None  # Callable[[dict], str] | None

    def _call(self, system: str, user: str, history: list[dict] | None = None) -> str:
        payload = {
            "model": self.model,
            "max_tokens": self.max_tokens,
            "temperature": self.temperature,
            "messages": [
                {"role": "system", "content": system},
                *(history or []),
                {"role": "user", "content": user},
            ],
        }
        if self.transport is not None:
            return self.transport(payload)  # type: ignore[operator]
        import time as _time
        import urllib.error

        data = json.dumps(payload).encode()
        url = self.base_url.rstrip("/") + "/chat/completions"
        headers = {
            "Content-Type": "application/json",
            "Authorization": f"Bearer {self.api_key}",
        }
        for attempt in range(self.max_retries + 1):
            try:
                req = urllib.request.Request(url, data=data, headers=headers)
                with urllib.request.urlopen(req, timeout=self.timeout_sec) as resp:
                    body = json.loads(resp.read())
                return body["choices"][0]["message"]["content"]
            except urllib.error.HTTPError as exc:
                if not (exc.code == 429 or exc.code >= 500) or (
                    attempt == self.max_retries
                ):
                    raise
            except urllib.error.URLError:
                if attempt == self.max_retries:
                    raise
            _time.sleep(self.retry_backoff_sec * (2 ** attempt))
        raise RuntimeError("unreachable")  # pragma: no cover

    def index(self, texts: list[str]) -> list[str]:
        return [
            self._call("You are a precise information extractor.", INDEX_PROMPT + t)
            for t in texts
        ]

    def alias(self, texts: list[str], names: list[list[str]]) -> list[str]:
        return [
            self._call(
                "You find aliases of named entities.",
                ALIAS_PROMPT.format(names=", ".join(n)) + t,
            )
            for t, n in zip(texts, names)
        ]

    def glean(self, histories: list[list[dict]]) -> list[str]:
        """One gleaning round per conversation (reference text.py:97-122):
        re-prompt with the prior exchange as history, collect additions."""
        return [
            self._call(
                "You are a precise information extractor.", LOOP_PROMPT, history=h
            )
            for h in histories
        ]

    def should_continue(self, histories: list[list[dict]]) -> list[str]:
        """YES/NO continuation vote (reference text.py:123-130)."""
        return [
            self._call(
                "You are a precise information extractor.",
                IF_CONTINUE_PROMPT,
                history=h,
            )
            for h in histories
        ]

    def chat(self, system: str, user: str, history: list[dict] | None = None) -> str:
        """Generic chat turn — the retrieval drivers' (R1/R6) model call."""
        return self._call(system, user, history=history)
