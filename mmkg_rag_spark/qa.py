"""Question-answering drivers above the engine (SURVEY.md §2.6 R1/R6).

Thin LLM-orchestration layer mirroring the reference's retrieval front end:

- ``query_dismantle``   : classify a question as *direct* (answer inline) or
  *retrieval* (extract keywords) — reference retrieval/classify.py:17-82.
- ``generate_answer``   : keywords → ``search_eris`` over the graph frames →
  knowledge-block prompt → model answer — reference
  retrieval/generate.py:67-152 (text + image knowledge halves).
- ``agent_response``    : multi-agent QA — decompose the question into agent
  tasks, run each through classify→answer, fuse — reference
  retrieval/agents.py:11-115.

All model calls go through the ``Extractor.chat`` interface (llm.py), so the
layer runs hermetically on ``MockExtractor`` and against any
OpenAI-compatible endpoint via ``EndpointExtractor``. Everything heavy
(scoring, k-hop, caps) stays in the distributed operators
(operators/retrieval.py); these drivers only sequence model calls and
collect the reference-capped result frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .kernels.parsers import parse_agent_defines, parse_classify_response
from .llm import (
    CLASSIFY_SYSTEM_PROMPT,
    CLASSIFY_USER_PROMPT,
    DECOMPOSE_SYSTEM_PROMPT,
    EXTRACT_KEYWORDS_PROMPT,
    FUSION_SYSTEM_PROMPT,
    GENERATE_KNOWLEDGE_PROMPT,
    GENERATE_SYSTEM_PROMPT,
    MockExtractor,
)
from .operators.retrieval import (
    assemble_context,
    assemble_image_context,
    search_eris,
)


def query_dismantle(
    query: str,
    extractor=None,
    force_retrieval: bool = False,
    history: list[dict] | None = None,
) -> dict | None:
    """R1: classify the question; direct answer or retrieval keywords.

    Parity with ``query_dismantle`` (classify.py:17-82): empty query → None;
    ``force_retrieval`` swaps the system prompt for the always-retrieval
    keyword extractor; a non-list keywords answer is wrapped in a list.
    """
    if not query:
        return None
    extractor = extractor or MockExtractor()
    system = EXTRACT_KEYWORDS_PROMPT if force_retrieval else CLASSIFY_SYSTEM_PROMPT
    response = extractor.chat(
        system, CLASSIFY_USER_PROMPT.format(query=query), history=history
    )
    classification, keywords_answer = parse_classify_response(response)
    if classification == "direct":
        return {"classification": classification, "response": keywords_answer}
    keywords = keywords_answer
    if not isinstance(keywords_answer, list):
        keywords = [keywords_answer]
    return {"classification": "retrieval", "keywords": keywords}


def generate_answer(
    keywords: list[str],
    query: str,
    nodes: DataFrame,
    edges: DataFrame,
    images: DataFrame,
    extractor=None,
    max_num: int = 3,
    max_images_num: int = 2,
    similarity_threshold: float = 10,
    hop: int = 1,
) -> str:
    """R5 composition driver (generate.py:67-152): retrieve → prompt → answer.

    ``search_eris`` answers a graph of at most
    ``retrieval.DRIVER_MAX_BYTES`` from a driver index and a larger one with
    Spark plans; the knowledge block is the text half (assemble_context ≙
    generate_text_prompts) plus the image half (assemble_image_context ≙
    generate_image_prompts).
    """
    if not keywords or not query:
        raise ValueError("Keywords and query cannot be empty")  # generate.py:80-81
    extractor = extractor or MockExtractor()
    res = search_eris(
        nodes,
        edges,
        images,
        keywords,
        max_num=max_num,
        max_images_num=max_images_num,
        similarity_threshold=similarity_threshold,
        hop=hop,
    )
    knowledge = assemble_context(
        res["seed_entities"], res["related_entities"], res["related_edges"], nodes
    ) + "\n" + assemble_image_context(
        res["seed_images"], res["image_edges"], images, nodes
    )
    return extractor.chat(
        GENERATE_SYSTEM_PROMPT,
        GENERATE_KNOWLEDGE_PROMPT.format(knowledge=knowledge, query=query),
    )


def question_decomposition(question: str, extractor=None) -> list[dict]:
    """R6 step 1 (agents.py:11-52): question → agent task definitions.

    Raises ValueError when the model's answer fails to parse — the parser
    returns [] or None (see parse_agent_defines), both falsy, matching the
    reference's ``if not agents: raise``.
    """
    extractor = extractor or MockExtractor()
    res = extractor.chat(
        DECOMPOSE_SYSTEM_PROMPT,
        "Please design a few agents to answer the question." + question,
    )
    agents = parse_agent_defines(res)
    if not agents:
        raise ValueError(
            "Failed to parse agent defines, please check the response from the agent."
        )
    return agents


def agent_response(
    question: str,
    nodes: DataFrame,
    edges: DataFrame,
    images: DataFrame,
    extractor=None,
    **search_kwargs,
) -> str:
    """R6: multi-agent QA — decompose, answer per agent, fuse (agents.py:76-115).

    Each agent's task goes through classify (direct answer short-circuits)
    or retrieval+generate. Bug-for-bug with the reference's fusion call
    (agents.py:104-110): the user content joins ``response`` — the LAST
    agent's answer string, character by character — not ``responses``; the
    full answer list still shapes the fused output through the per-agent
    generate calls, and we keep the exact prompt bytes for parity.
    """
    extractor = extractor or MockExtractor()
    agents = question_decomposition(question, extractor)

    responses: list[str] = []
    response = ""
    for agent in agents:
        task = agent["task"]
        qt = query_dismantle(task, extractor)
        if qt["classification"] == "direct":
            response = qt["response"]
        else:
            response = generate_answer(
                qt["keywords"], task, nodes, edges, images, extractor,
                **search_kwargs,
            )
        responses.append(response)

    return extractor.chat(
        FUSION_SYSTEM_PROMPT,
        f"Question: {question}\nAnswers: \n" + "\n".join(response),
    )
