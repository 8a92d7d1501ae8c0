"""Correctness gates: reference results from the pure-Python kernels and
the comparisons each workload counts into ``failed``.

Every comparison returns ``(attempted, failed)``; the workloads add them
up so that ``error_rate = failed / attempted``.
"""

import hashlib
from collections import Counter
from datetime import datetime

import numpy as np
from pyspark.sql import functions as F

from pdf_extraction_spark.kernels.categories import categorize
from pdf_extraction_spark.kernels.extract import extract_document
from pdf_extraction_spark.kernels.filters import keep_chunk
from pdf_extraction_spark.kernels.quality import quality_score
from pdf_extraction_spark.kernels.rerank import weighted_score
from pdf_extraction_spark.kernels.transcript import parse_transcript
from pdf_extraction_spark.operators.embed import embed_text

# --------------------------------------------------------------------------
# per-url document digests (extract_pages, checkpoint_resume)
# --------------------------------------------------------------------------


def doc_digest(title, text, turns) -> str:
    body = "\x02".join(f"{s or ''}\x03{t or ''}" for s, t in turns)
    return hashlib.sha256("\x01".join([title or "", text or "", body]).encode("utf-8")).hexdigest()


def digest_col():
    """The same digest as :func:`doc_digest`, computed by Spark over an
    ``extract_parse``-shaped frame; it reads ``title``, ``text`` and every
    turn, so all of them materialize."""
    body = F.concat_ws(
        "\x02",
        F.transform(
            "turns",
            lambda t: F.concat(
                F.coalesce(t["speaker"], F.lit("")), F.lit("\x03"), F.coalesce(t["text"], F.lit(""))
            ),
        ),
    )
    joined = F.concat(
        F.coalesce(F.col("title"), F.lit("")), F.lit("\x01"),
        F.coalesce(F.col("text"), F.lit("")), F.lit("\x01"),
        F.coalesce(body, F.lit("")),
    )
    return F.sha2(joined, 256)


def reference_doc(url: str, payload: bytes):
    title, text = extract_document(url, payload or b"")
    turns = [(d["speaker"], d["text"]) for d in parse_transcript(text)[1]]
    return title, text, turns


def reference_digests(rows):
    """({url: digest}, total turns)."""
    digests, n_turns = {}, 0
    for r in rows:
        title, text, turns = reference_doc(r["url"], r["html"])
        digests[r["url"]] = doc_digest(title, text, turns)
        n_turns += len(turns)
    return digests, n_turns


def compare_digests(got_rows, reference: dict):
    """``got_rows``: (url, digest) pairs. Every reference url is one
    attempted check; a wrong, missing or unexpected url is one failure."""
    got = {}
    extra = 0
    for url, dig in got_rows:
        if url in got or url not in reference:
            extra += 1
        got[url] = dig
    wrong = sum(1 for url, dig in reference.items() if got.get(url) != dig)
    return len(reference), wrong + extra


# --------------------------------------------------------------------------
# chunk stages (chunk_pipeline)
# --------------------------------------------------------------------------


def reference_chunks(turn_rows):
    """(chunk_id, category, quality_score) multiset and per
    (company, category) row counts, from keep_chunk / categorize /
    quality_score over the materialized turns."""
    rows = Counter()
    report = Counter()
    for r in turn_rows:
        if not keep_chunk(r["speaker"], r["content"]):
            continue
        score = quality_score(r["content"])
        for cat in categorize(r["content"]):
            rows[(r["chunk_id"], cat, score)] += 1
            report[(r["company"], cat)] += 1
    return rows, report


def compare_counters(got: Counter, reference: Counter):
    """Attempted = reference size; failed = rows missing plus rows extra."""
    missing = sum((reference - got).values())
    extra = sum((got - reference).values())
    return sum(reference.values()), missing + extra


# --------------------------------------------------------------------------
# RAG (rag_query)
# --------------------------------------------------------------------------

# Spark rounds similarity to 6 and the weighted score to 4 decimals; the
# reference is unrounded, so scores may differ by half a unit of the last
# kept digit plus float noise
SCORE_TOL = 2e-4


class RagReference:
    """numpy cosine over the collected chunks table plus the
    ``kernels.rerank.weighted_score`` rerank."""

    def __init__(self, rows, as_of: str):
        self.ids = [r["vec_id"] for r in rows]
        self.company = np.array([(r["company"] or "").upper() for r in rows])
        self.emb = np.array([r["embedding"] for r in rows], dtype=float)
        self.norms = np.linalg.norm(self.emb, axis=1)
        as_of_dt = datetime.fromisoformat(as_of)
        # weighted_score is affine in the similarity: a*sim + b per row
        b = np.array([weighted_score(0.0, r["date"], as_of_dt, r["quality_score"])[0] for r in rows])
        a = np.array([weighted_score(1.0, r["date"], as_of_dt, r["quality_score"])[0] for r in rows]) - b
        self.a, self.b = a, b
        self.index = {vid: i for i, vid in enumerate(self.ids)}

    def scores(self, question: str) -> np.ndarray:
        q = np.array(embed_text(question), dtype=float)
        qn = np.linalg.norm(q)
        denom = self.norms * qn
        sim = np.where(denom == 0, 0.0, self.emb @ q / np.where(denom == 0, 1.0, denom))
        return self.a * np.round(sim, 6) + self.b

    def check(self, question: str, company, k: int, rows, context: str) -> bool:
        """True when the returned top-k is a correct top-k of the table."""
        ws = self.scores(question)
        eligible = np.ones(len(self.ids), dtype=bool)
        if company:
            eligible = self.company == company.upper()
        n_expected = min(k, int(eligible.sum()))
        if len(rows) != n_expected:
            return False
        got_idx = []
        for r in rows:
            i = self.index.get(r["vec_id"])
            if i is None or not eligible[i] or abs(ws[i] - r["weighted_score"]) > SCORE_TOL:
                return False
            got_idx.append(i)
        keys = [(-r["weighted_score"], r["vec_id"]) for r in rows]
        if keys != sorted(keys) or len(set(got_idx)) != len(got_idx):
            return False
        rest = eligible.copy()
        rest[got_idx] = False
        if n_expected and rest.any() and ws[rest].max() > ws[got_idx].min() + SCORE_TOL:
            return False
        # the context folds the same top-k in score order; rows tied on the
        # score may come in either order
        parts = context.split(CONTEXT_SEP) if rows else []
        if Counter(parts) != Counter(r["content"] for r in rows):
            return False
        return all(
            any(r["content"] == part and r["weighted_score"] == rows[i]["weighted_score"] for r in rows)
            for i, part in enumerate(parts)
        )


CONTEXT_SEP = "\n\n---\n\n"
