"""X3 RAG search + REPL tests."""

import math
import random
import subprocess
import sys
import uuid

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.embed import embed_text
from pdf_extraction_spark.operators.topk import cosine_col, rerank_topk
from pdf_extraction_spark.plans.rag import parse_repl_line, rag_context, rag_search


class TestParseReplLine:
    def test_commands(self):
        assert parse_repl_line("quit") == ("quit", "", None)
        assert parse_repl_line("  EXIT ") == ("quit", "", None)
        assert parse_repl_line("sources") == ("sources", "", None)
        assert parse_repl_line("   ") == ("empty", "", None)

    def test_question_and_filter(self):
        a, q, c = parse_repl_line("What about margins? company:CIPLA")
        assert a == "ask" and q == "What about margins?" and c == "CIPLA"
        a, q, c = parse_repl_line("plain question")
        assert (a, q, c) == ("ask", "plain question", None)

    def test_reference_marker_quirks(self):
        """Parity with simple_rag.py:332-336: everything after the marker
        is the filter; mid-line trailing text is NOT silently dropped
        from the question — it belongs to the filter (reference rule);
        case-sensitive split; double marker → untouched."""
        a, q, c = parse_repl_line("revenue company:CIPLA guidance")
        assert (a, q, c) == ("ask", "revenue", "CIPLA guidance")
        # uppercase marker passes the lowercase check but fails the
        # case-sensitive split — line left untouched (reference quirk)
        a, q, c = parse_repl_line("revenue COMPANY:CIPLA")
        assert (a, q, c) == ("ask", "revenue COMPANY:CIPLA", None)
        # marker twice → len(parts) != 2 → untouched
        a, q, c = parse_repl_line("company:A vs company:B")
        assert (a, q, c) == ("ask", "company:A vs company:B", None)
        # empty filter normalizes to None
        a, q, c = parse_repl_line("question company:")
        assert (a, q, c) == ("ask", "question", None)

    def test_format_search_results_golden(self):
        """Pin the human-visible sources listing to the reference's
        format_search_results shape (simple_rag.py:160-203)."""
        from pdf_extraction_spark.plans.rag import format_search_results

        assert format_search_results([]) == "No relevant documents found."
        results = [
            {
                "company": "CIPLA",
                "similarity": 0.91234,
                "weighted_score": 0.84567,
                "days_ago": 12,
                "content": "Revenue grew 12% this quarter.",
                "metadata": {
                    "executive_name": "A. Sharma",
                    "executive_role": "CFO",
                    "category": "Financial Performance",
                    "date": "2024-05-10T00:00:00",
                    "quarter": "Q4",
                    "fiscal_year": "FY24",
                },
            },
            {
                "company": "LUPIN",
                "similarity": 0.5,
                "weighted_score": 0.4,
                "days_ago": 800,
                "content": "x" * 250,
                "metadata": {"speaker": "Moderator"},
            },
        ]
        out = format_search_results(results)
        assert (
            "🏢 Result 1 - CIPLA (Score: 0.846, Similarity: 0.912)" in out
        )
        assert "👤 A. Sharma (CFO)" in out
        assert "📂 Category: Financial Performance" in out
        assert "📅 🟢 Recent 2024-05-10 Q4 FY24 (12 days ago)" in out
        assert "🏢 Result 2 - LUPIN (Score: 0.400, Similarity: 0.500)" in out
        assert "👤 Moderator (Unknown Role)" in out  # speaker fallback
        assert "🔴 Older" in out  # 800 days → oldest bucket
        assert "x" * 200 + "..." in out  # 200-char truncation
        assert "x" * 201 not in out
        assert out.count("-" * 80) == 2


class TestGenerateAnswer:
    RESULTS = [
        {
            "company": "CIPLA",
            "similarity": 0.9,
            "weighted_score": 0.8,
            "days_ago": 10,
            "content": "Revenue grew 12 percent. Margins were stable this quarter.",
            "metadata": {
                "executive_name": "A. Sharma",
                "executive_role": "CFO",
                "category": "Financial Performance",
                "date": "2024-05-10T00:00:00",
                "quarter": "Q4",
            },
        },
        {
            "company": "LUPIN",
            "similarity": 0.6,
            "weighted_score": 0.5,
            "days_ago": 40,
            "content": "Guidance for revenue is unchanged. We invested in capacity.",
            "metadata": {"speaker": "Moderator"},
        },
    ]

    def test_prompt_golden(self):
        """Byte-parity with the reference's prompt assembly
        (simple_rag.py:205-246)."""
        from pdf_extraction_spark.plans.rag import build_answer_prompt

        p = build_answer_prompt("What was revenue growth?", self.RESULTS)
        assert p.startswith(
            "You are an expert financial analyst reviewing earnings call "
            "transcripts. Based on the provided context from executive "
            "statements, answer the user's question comprehensively."
        )
        assert "User Question: What was revenue growth?" in p
        assert "\nSource 1: CIPLA - A. Sharma (CFO)\n" in p
        assert "Category: Financial Performance | Date: 2024-05-10 Q4\n" in p
        assert "Content: Revenue grew 12 percent. Margins were stable this quarter.\n---" in p
        # speaker-only metadata falls back to Unknown like the reference
        assert "\nSource 2: LUPIN - Unknown (Unknown)\n" in p
        assert "Category: Unknown | Date:  \n" in p
        assert p.rstrip().endswith("Answer:")
        assert "6. Keep the answer professional and analytical" in p

    def test_comprehensive_prompt_golden(self):
        """Byte-parity with the complete-RAG path's prompt assembly
        (complete_rag.py:203-309): same Source blocks under the
        'Recent Earnings Call Context' heading, the eight-section
        analysis framework, response structure, critical requirements,
        and the senior-business-analyst system message."""
        from pdf_extraction_spark.plans.rag import (
            _COMPREHENSIVE_SYSTEM_PROMPT,
            build_answer_prompt,
        )

        p = build_answer_prompt(
            "What was revenue growth?", self.RESULTS, style="comprehensive"
        )
        assert p.startswith(
            "You are a senior business analyst with 15+ years of experience "
            "analyzing public companies across industries. Based on the "
            "provided earnings call transcripts, deliver a comprehensive "
            "business intelligence report."
        )
        assert "User Question: What was revenue growth?" in p
        assert "Recent Earnings Call Context:\n" in p
        # context block shape is shared with the simple path
        assert "\nSource 1: CIPLA - A. Sharma (CFO)\n" in p
        assert "Category: Financial Performance | Date: 2024-05-10 Q4\n" in p
        assert "\nSource 2: LUPIN - Unknown (Unknown)\n" in p
        # the eight framework sections, in order
        sections = [
            "\U0001F4CA FINANCIAL HEALTH & TRENDS:",
            "\U0001F3ED OPERATIONAL PERFORMANCE:",
            "\U0001F3AF PRODUCT/SERVICE PORTFOLIO:",
            "\U0001F30D MARKET POSITIONING & EXPANSION:",
            "⚖️ REGULATORY & COMPLIANCE:",
            "\U0001F4BC MANAGEMENT STRATEGY & EXECUTION:",
            "⚠️ RISK ASSESSMENT:",
            "\U0001F52E FORWARD-LOOKING INSIGHTS:",
        ]
        idx = [p.index(s) for s in sections]
        assert idx == sorted(idx)
        assert "RESPONSE STRUCTURE:\n1. **Executive Summary** (2-3 key takeaways)" in p
        assert (
            "- Maintain objectivity while highlighting management confidence/concerns"
            in p
        )
        assert p.rstrip().endswith("Answer:")
        assert _COMPREHENSIVE_SYSTEM_PROMPT.startswith(
            "You are a senior business analyst expert in earnings call analysis."
        )

    def test_comprehensive_style_reaches_llm_hook(self):
        from pdf_extraction_spark.plans.rag import (
            _COMPREHENSIVE_SYSTEM_PROMPT,
            generate_answer,
        )

        seen = {}

        def llm(system, prompt):
            seen["system"], seen["prompt"] = system, prompt
            return "ok"

        out = generate_answer("q?", self.RESULTS, llm=llm, style="comprehensive")
        assert out == "ok"
        assert seen["system"] == _COMPREHENSIVE_SYSTEM_PROMPT
        assert "COMPREHENSIVE ANALYSIS FRAMEWORK:" in seen["prompt"]

    def test_empty_results_message_parity(self):
        from pdf_extraction_spark.plans.rag import generate_answer

        assert (
            generate_answer("anything", [])
            == "I couldn't find relevant information to answer your question."
        )

    def test_llm_hook_and_error_shape(self):
        from pdf_extraction_spark.plans.rag import (
            _ANSWER_SYSTEM_PROMPT,
            generate_answer,
        )

        seen = {}

        def fake_llm(system, prompt):
            seen["system"], seen["prompt"] = system, prompt
            return "the llm answer"

        assert generate_answer("q?", self.RESULTS, llm=fake_llm) == "the llm answer"
        assert seen["system"] == _ANSWER_SYSTEM_PROMPT
        assert "User Question: q?" in seen["prompt"]

        def broken_llm(system, prompt):
            raise RuntimeError("rate limited")

        # reference error-string shape (simple_rag.py:261-262)
        assert (
            generate_answer("q?", self.RESULTS, llm=broken_llm)
            == "Error generating response: rate limited"
        )

    def test_extractive_fallback_deterministic_and_cited(self):
        from pdf_extraction_spark.plans.rag import generate_answer

        a1 = generate_answer("what is the revenue guidance?", self.RESULTS)
        a2 = generate_answer("what is the revenue guidance?", self.RESULTS)
        assert a1 == a2
        assert a1.startswith("Based on the retrieved statements:")
        # the highest-overlap sentence ranks first, with its citation
        assert "Guidance for revenue is unchanged. (Moderator, LUPIN)" in a1
        assert "(A. Sharma, CIPLA)" in a1


@pytest.fixture()
def chunks(spark):
    from pdf_extraction_spark.operators.embed import embed_documents

    rows = [
        (1, "CIPLA", "2025-03-01", "Rahul Sharma",
         "revenue growth of 12 percent this quarter with strong margins", 8.0),
        (2, "CIPLA", "2020-01-01", "Priya Patel",
         "capex investment in the new facility is on track", 6.0),
        (3, "LUPIN", "2025-02-01", "Ken Tanaka",
         "margin trajectory and guidance for the fiscal year improved", 7.5),
        (4, "LUPIN", "2025-02-01", "Ken Tanaka", "thank you and goodbye", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "chunk_id long, company string, date string, speaker string, content string, quality_score double"
    )
    return embed_documents(df, text_col="content", quality_col="missing")


class TestRagSearch:
    def test_topk_and_filter(self, chunks):
        top = rag_search(chunks, "revenue growth margins", k=2).collect()
        assert len(top) == 2
        assert all("weighted_score" in r.asDict() for r in top)
        # company filter restricts the candidate pool
        lupin = rag_search(chunks, "margin guidance", k=5, company_filter="lupin").collect()
        assert {r["company"] for r in lupin} == {"LUPIN"}

    def test_recency_beats_stale(self, chunks):
        # identical question; the 2025 docs carry recency weight 1.0 vs
        # 0.4 for the 2020 one — it should not win the top slot
        top1 = rag_search(chunks, "capex investment facility", k=4, as_of="2025-05-01").collect()
        assert top1[0]["chunk_id"] != 2 or top1[0]["similarity"] > top1[1]["similarity"] + 0.1

    def test_context_assembly(self, chunks):
        top = rag_search(chunks, "revenue growth", k=2)
        ctx = rag_context(top)
        assert ctx.count("\n\n---\n\n") == 1  # two chunks, one separator

    def test_context_follows_topk_order_on_ties(self, spark):
        """Two chunks tied on weighted_score (same embedding, date and
        quality): the id column breaks the tie, and the context follows
        the top-k row order, not the table's."""
        emb = embed_text("revenue growth")
        df = spark.createDataFrame(
            [(2, "CIPLA", "2025-03-01", "second", 8.0, emb),
             (1, "CIPLA", "2025-03-01", "first", 8.0, emb)],
            _SCHEMA,
        )
        top = rag_search(df, "revenue growth", k=2)
        rows = top.collect()
        assert rows[0]["weighted_score"] == rows[1]["weighted_score"]
        assert [r["chunk_id"] for r in rows] == [1, 2]
        assert rag_context(top) == "first\n\n---\n\nsecond"


_SCHEMA = (
    "chunk_id long, company string, date string, content string, "
    "quality_score double, embedding array<double>"
)


def _seed_search(chunks, question, k=5, company_filter=None, as_of="2025-05-01", id_cols=("chunk_id",)):
    """The lazy Column-built plan rag_search replaces: 64 array literals,
    cosine_col, rerank_topk."""
    q = F.array(*[F.lit(float(x)) for x in embed_text(question)])
    scored = chunks.filter(F.col("embedding").isNotNull())
    if company_filter and "company" in chunks.columns:
        scored = scored.filter(F.upper(F.col("company")) == company_filter.upper())
    scored = scored.withColumn("similarity", F.round(cosine_col(F.col("embedding"), q), 6))
    return rerank_topk(scored, as_of, k=k, id_cols=id_cols)


@pytest.fixture()
def edge_chunks(spark):
    """Chunks with every input the rerank has a special case for."""
    def row(i, company, date, content, quality, emb="embed"):
        return (i, company, date, content, quality, embed_text(content) if emb == "embed" else emb)

    return spark.createDataFrame(
        [
            row(1, "CIPLA", "2025-03-01", "revenue growth of 12 percent with strong margins", 8.0),
            row(2, "CIPLA", "2020-01-01", "capex investment in the new facility", 6.0),
            row(3, "LUPIN", None, "margin guidance for the fiscal year", 7.5),
            row(4, "LUPIN", "not a date", "revenue and margins were stable", None),
            row(5, "LUPIN", "2025-02-01", "an all-zero embedding", 5.0, [0.0] * 64),
            row(6, "CIPLA", "2025-04-01", "a NULL embedding", 9.0, None),
            row(7, "Sun Pharma", "2024-12-01", "thank you and goodbye", None),
        ],
        _SCHEMA,
    )


class TestRagSearchParity:
    """rag_search's local frame equals the seed plan's rows exactly:
    same order, same similarity and weighted_score bits, same schema."""

    def _check(self, chunks, question, k, company_filter=None, id_cols=("chunk_id",)):
        got = rag_search(chunks, question, k=k, company_filter=company_filter, id_cols=id_cols)
        want = _seed_search(chunks, question, k=k, company_filter=company_filter, id_cols=id_cols)
        assert got.schema == want.schema
        got_rows, want_rows = got.collect(), want.collect()
        assert got_rows == want_rows
        return got_rows

    def test_fixture_chunks(self, chunks):
        for q in ("revenue growth margins", "capex investment facility"):
            assert len(self._check(chunks, q, k=3)) == 3

    @pytest.mark.parametrize("question", ["revenue growth margins", "capex"])
    def test_edge_rows(self, edge_chunks, question):
        rows = self._check(edge_chunks, question, k=10)  # k > the 6 eligible rows
        assert len(rows) == 6 and 6 not in {r["chunk_id"] for r in rows}
        zero = next(r for r in rows if r["chunk_id"] == 5)
        assert zero["similarity"] == 0.0
        # NULL / unparseable date → the bare similarity
        for r in rows:
            if r["chunk_id"] in (3, 4):
                assert r["weighted_score"] == round(r["similarity"], 4)

    def test_question_without_tokens(self, edge_chunks):
        rows = self._check(edge_chunks, "", k=4)  # zero query vector
        assert {r["similarity"] for r in rows} == {0.0}

    def test_company_filter_and_missing_columns(self, edge_chunks):
        self._check(edge_chunks, "revenue margins", k=10, company_filter="lupin")
        bare = edge_chunks.drop("company", "quality_score")
        rows = self._check(bare, "revenue margins", k=10, company_filter="lupin")
        assert len(rows) == 6  # no company column: the filter is ignored


class TestCompanyFilterQuoting:
    """The filter is a Column literal: quotes, backslashes and case
    never reach SQL text."""

    @pytest.fixture()
    def quoted(self, spark):
        rows = [
            (1, "O'Brien \\ Sons", "2025-03-01", "revenue growth quoted", 8.0),
            (2, "LUPIN", "2025-03-01", "revenue growth lupin", 8.0),
            (3, "Lupin", "2025-02-01", "revenue margins lupin", 7.0),
        ]
        return spark.createDataFrame(
            [r + (embed_text(r[3]),) for r in rows], _SCHEMA
        )

    def test_quote_and_backslash(self, quoted):
        rows = rag_search(quoted, "revenue growth", company_filter="o'brien \\ sons").collect()
        assert [r["chunk_id"] for r in rows] == [1]
        assert rows[0]["company"] == "O'Brien \\ Sons"

    def test_mixed_case(self, quoted):
        rows = rag_search(quoted, "revenue growth", company_filter="LuPiN").collect()
        assert sorted(r["chunk_id"] for r in rows) == [2, 3]

    def test_no_company_column_ignores_filter(self, quoted):
        bare = quoted.drop("company")
        rows = rag_search(bare, "revenue growth", company_filter="nobody").collect()
        assert len(rows) == 3

    def test_no_match_is_empty(self, quoted):
        top = rag_search(quoted, "revenue growth", company_filter="nobody' OR '1'='1")
        assert top.collect() == []
        assert rag_context(top) == ""


def test_one_spark_job_per_question(spark, chunks):
    """rag_search, collecting its frame and rag_context together run
    exactly one Spark job: the search itself."""
    sc = spark.sparkContext
    group = f"rag-one-job-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        top = rag_search(chunks, "revenue growth margins", k=2, company_filter="cipla")
        rows = top.collect()
        ctx = rag_context(top)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 2 and ctx
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_sql_double_literals_round_trip(spark):
    from pdf_extraction_spark.operators.topk import fold_norm, norm_col, spark_double_sql

    xs = [0.1, -0.0, 1e-05, 5e-324, 1 / 3, -2.5e300, 1.3633313431501976e-4]
    row = spark.sql("SELECT " + ", ".join(spark_double_sql(x) for x in xs)).first()
    assert [math.copysign(1, v) for v in row] == [math.copysign(1, x) for x in xs]
    assert list(row) == xs
    specials = spark.sql(
        "SELECT " + ", ".join(spark_double_sql(x) for x in (math.inf, -math.inf, math.nan))
    ).first()
    assert specials[0] == math.inf and specials[1] == -math.inf and math.isnan(specials[2])
    # the query norm folded in Python must be Spark's fold bit for bit
    rnd = random.Random(7)
    vecs = [[rnd.uniform(-1, 1) * 10 ** rnd.randint(-3, 3) for _ in range(64)] for _ in range(200)]
    got = spark.createDataFrame([(v,) for v in vecs], "v array<double>").select(norm_col(F.col("v"))).collect()
    assert [r[0] for r in got] == [fold_norm(v) for v in vecs]


def test_repl_end_to_end():
    """Drive scripts/rag_repl.py over a pipe: ask, toggle sources, quit."""
    stdin = "sources\nrevenue growth company:CIPLA\nquit\n"
    out = subprocess.run(
        [sys.executable, "scripts/rag_repl.py", "--pages", "40"],
        input=stdin, capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "RAG search ready" in out.stdout
    assert "relevant chunks" in out.stdout
    assert "📚 DETAILED SOURCES:" in out.stdout
    listing = out.stdout.split("📚 DETAILED SOURCES:")[1]
    assert "CIPLA" in listing
    assert "🏢 Result 1 - " in listing  # reference display shape
    assert "bye" in out.stdout
