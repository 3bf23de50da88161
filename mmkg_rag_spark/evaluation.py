"""Evaluation harness: question generation, batch search, LLM-judge A/B.

The reference's quality-evaluation subsystem (the one round-2 verdict item
still open), re-expressed over the engine's ``Extractor.chat`` interface so
it runs hermetically on mocks/scripted transports and against any
OpenAI-compatible endpoint unchanged:

- GraphRAG-style question generation (reference
  tests/evaluation/questions_generate.py:95-147, 172-200): dataset
  description → N personas → N tasks per persona → N corpus-level questions
  per (persona, task), numbered-prefix cleaning included — N=5 yields the
  paper's 125 questions.
- batch search runner (reference tests/evaluation/search.py:16-41): each
  question answered by the ``s`` method (classify → retrieve → generate)
  and/or the ``m`` method (multi-agent), in batches of ``batch`` with
  per-batch error isolation, writing ``s_answer``/``m_answer`` keys.
- judge comparison + win-rate statistics (reference
  tests/evaluation/compare.py:83-88, 192-233, 258-280): per question ×
  metric the judge picks a winner (1 = s, 2 = m, 0 = tie) with an
  explanation; statistics aggregate wins per metric over the four GraphRAG
  metrics (Comprehensiveness, Diversity, Empowerment, Directness).

The heavy halves of each search (scoring joins, k-hop, caps) stay in the
distributed operators (operators/retrieval.py) — this module only sequences
model calls, mirroring the reference's asyncio driver with a synchronous
batch loop.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame

from .kernels.parsers import scan_json_objects
from .llm import (
    GENERATE_PERSONA_PROMPT,
    GENERATE_QUESTION_PROMPT,
    GENERATE_TASK_PROMPT,
    JUDGE_SYSTEM_PROMPT,
    MockExtractor,
)
from .qa import agent_response, generate_answer, query_dismantle

# The four GraphRAG comparison metrics (compare.py:83-88); the head word is
# the statistics key, the sentence is the judge's scoring instruction.
METRICS = [
    "Comprehensiveness.\nHow much detail does the answer provide to cover "
    "all aspects and details of the question?",
    "Diversity.\nHow varied and rich is the answer in providing different "
    "perspectives and insights on the question?",
    "Empowerment.\nHow well does the answer help the reader understand and "
    "make informed judgements about the topic?",
    "Directness.\nHow specifically and clearly does the answer address the "
    "question?",
]

_WINNER_MAP = {1: "s", 2: "m", 0: "0"}  # compare.py:193


def clean_numbered_string(s: str) -> str:
    """Strip '1. ' style prefixes (questions_generate.py:150-152)."""
    return re.sub(r"^\d+\.\s*", "", s)


# --- question generation ---------------------------------------------------

def generate_users(extractor, dataset_desc: str, n: int = 5) -> list[str]:
    """Personas for a corpus description, one per line (…:95-109)."""
    out = extractor.chat(
        GENERATE_PERSONA_PROMPT,
        f"Given this corpus description:\n{dataset_desc}\n\nList {n} "
        "potential users who might be interested in this corpus content. "
        "Return only the list of users, one per line.",
    )
    return [line for line in out.strip().split("\n") if line.strip()]


def generate_tasks(extractor, dataset_desc: str, user: str, n: int = 5) -> list[str]:
    """Tasks a persona would run against the corpus (…:112-128)."""
    out = extractor.chat(
        GENERATE_TASK_PROMPT,
        f"Given this corpus description:\n{dataset_desc}\n\nFor this user: "
        f"{user}\n\nList {n} specific tasks they might want to accomplish "
        "with this corpus. Return only the list of tasks, one per line.",
    )
    return [line for line in out.strip().split("\n") if line.strip()]


def generate_questions(
    extractor, dataset_desc: str, user: str, task: str, n: int = 5
) -> list[str]:
    """Corpus-level questions for a (persona, task) pair (…:131-147)."""
    out = extractor.chat(
        GENERATE_QUESTION_PROMPT,
        f"Given this corpus description:\n{dataset_desc}\n\nFor this user: "
        f"{user}\nAnd this task: {task}\n\nGenerate {n} questions that "
        "require understanding of the entire corpus. Return only the list "
        "of questions, one per line.",
    )
    return [line for line in out.strip().split("\n") if line.strip()]


def generate_question_set(
    dataset_desc: str, n: int = 5, extractor=None
) -> list[dict]:
    """Full persona→task→question sweep (…:172-200): N³ question rows of
    {user, task, question} with numbered prefixes cleaned."""
    extractor = extractor or MockExtractor()
    results: list[dict] = []
    for user in generate_users(extractor, dataset_desc, n):
        for task in generate_tasks(extractor, dataset_desc, user, n):
            for q in generate_questions(extractor, dataset_desc, user, task, n):
                results.append(
                    {
                        "user": clean_numbered_string(user),
                        "task": clean_numbered_string(task),
                        "question": clean_numbered_string(q),
                    }
                )
    return results


# --- batch search runner ---------------------------------------------------

def s_search(
    question: str,
    nodes: DataFrame,
    edges: DataFrame,
    images: DataFrame,
    extractor=None,
    **search_kwargs,
) -> str:
    """Single-shot search (search.py:16-22): classify; direct answers
    short-circuit, otherwise retrieve + generate."""
    classify = query_dismantle(question, extractor)
    if classify["classification"] == "direct":
        return classify["response"]
    return generate_answer(
        classify["keywords"], question, nodes, edges, images, extractor,
        **search_kwargs,
    )


def m_search(
    question: str,
    nodes: DataFrame,
    edges: DataFrame,
    images: DataFrame,
    extractor=None,
    **search_kwargs,
) -> str:
    """Multi-agent search (search.py:25-27)."""
    return agent_response(
        question, nodes, edges, images, extractor, **search_kwargs
    )


def run_search(
    questions: list[dict],
    nodes: DataFrame,
    edges: DataFrame,
    images: DataFrame,
    methods: str = "sm",
    batch: int = 10,
    extractor=None,
    **search_kwargs,
) -> list[dict]:
    """Answer every question with the chosen methods (search.py:43-74).

    Mutates and returns ``questions`` with ``s_answer``/``m_answer`` keys,
    processing in batches of ``batch`` with per-(batch, method) error
    isolation — a failing batch skips that method for those questions and
    the run continues, exactly the reference's try/continue shape. The
    questions within a batch run CONCURRENTLY (a thread pool standing in
    for the reference's asyncio.gather — model calls are I/O-bound, and
    Spark driver actions are thread-safe), so a batch of 10 against a real
    endpoint costs one round-trip latency, not ten.
    """
    from concurrent.futures import ThreadPoolExecutor

    searchers = {"s": s_search, "m": m_search}
    batches = [
        questions[i : min(i + batch, len(questions))]
        for i in range(0, len(questions), batch)
    ]
    for b in batches:
        for method in methods:
            try:
                with ThreadPoolExecutor(max_workers=max(1, len(b))) as pool:
                    answers = list(
                        pool.map(
                            lambda q: searchers[method](
                                q["question"], nodes, edges, images,
                                extractor, **search_kwargs,
                            ),
                            b,
                        )
                    )
            except Exception:
                continue
            for q, a in zip(b, answers):
                q[f"{method}_answer"] = a
    return questions


# --- judge comparison + win-rate statistics --------------------------------

def _parse_judge(response: str) -> dict:
    """Extract the {winner, explanation} object; unparseable → tie with the
    reference's fallback explanation (compare.py:177-189)."""
    try:
        obj = json.loads(response)
        if isinstance(obj, dict) and "winner" in obj:
            return obj
    except json.JSONDecodeError:
        pass
    for obj in scan_json_objects(response, ["winner", "explanation"]):
        return obj
    return {"winner": 0, "explanation": "[LLM Error] No winner"}


def compare_answers(
    question: str, answer1: str, answer2: str, metric: str, extractor=None
) -> dict:
    """One judge call (compare.py:149-189): metric + question + answers →
    {winner: 0|1|2, explanation}."""
    extractor = extractor or MockExtractor()
    response = extractor.chat(
        JUDGE_SYSTEM_PROMPT,
        f"--Metric--\n\n{metric}\n\n---Question---\n\n{question}\n\n"
        f"---Answer 1---\n\n{answer1}\n\n---Answer 2---\n\n{answer2}\n",
    )
    out = _parse_judge(response)
    winner = out.get("winner", 0)
    if winner not in (0, 1, 2):
        winner = 0
    return {"winner": winner, "explanation": out.get("explanation", "")}


def compare_all(
    qas: list[dict], batch: int = 10, extractor=None
) -> list[dict]:
    """Judge every (question × metric) pair (compare.py:192-233, 236-255).

    Returns rows of {question, s_answer, m_answer, metrics: [{metric,
    winner('s'|'m'|'0'), explanation}]} — answer 1 is the s method, answer 2
    the m method, matching the reference's winner_map."""
    results: list[dict] = []
    batches = [
        qas[i : min(i + batch, len(qas))] for i in range(0, len(qas), batch)
    ]
    for b in batches:
        for q in b:
            rows = []
            for metric in METRICS:
                res = compare_answers(
                    q["question"],
                    q.get("s_answer", ""),
                    q.get("m_answer", ""),
                    metric,
                    extractor,
                )
                rows.append(
                    {
                        "metric": metric.split(".")[0],
                        "winner": _WINNER_MAP.get(res["winner"], "0"),
                        "explanation": res["explanation"],
                    }
                )
            results.append(
                {
                    "question": q["question"],
                    "s_answer": q.get("s_answer", ""),
                    "m_answer": q.get("m_answer", ""),
                    "metrics": rows,
                }
            )
    return results


def win_rate_statistics(results: list[dict]) -> dict[str, dict[str, int]]:
    """Per-metric win counts (compare.py:258-280): metric → {s, m, 0}."""
    statistics = {m.split(".")[0]: {"s": 0, "m": 0, "0": 0} for m in METRICS}
    for q in results:
        for metric in q["metrics"]:
            statistics[metric["metric"]][metric["winner"]] += 1
    return statistics


def evaluate(
    dataset_desc: str,
    nodes: DataFrame,
    edges: DataFrame,
    images: DataFrame,
    n: int = 5,
    batch: int = 10,
    extractor=None,
    **search_kwargs,
) -> tuple[list[dict], dict]:
    """End-to-end harness: questions → s/m answers → judged → win rates."""
    questions = generate_question_set(dataset_desc, n, extractor)
    answered = run_search(
        questions, nodes, edges, images, "sm", batch, extractor,
        **search_kwargs,
    )
    judged = compare_all(answered, batch, extractor)
    return judged, win_rate_statistics(judged)
