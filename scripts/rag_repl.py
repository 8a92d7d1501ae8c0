#!/usr/bin/env python
"""X3: the interactive search REPL (reference simple_rag.py:282-365),
minus the LLM call (presentation-layer non-goal — the assembled context
and ranked sources are printed instead).

Usage:
  python scripts/rag_repl.py [chunks_parquet_dir] [--pages N]

With a parquet dir: loads an embedded-chunks table (columns content,
embedding, quality_score, date[, company, speaker]). Without one:
synthesizes N pages (default 300), runs the full extraction pipeline,
and embeds the quality-gated chunks — fully self-contained.

Commands (reference grammar): 'quit' exits, 'sources' shows the ranked
source listing for the next question, 'company:CIPLA' suffix filters.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_extraction_spark.plans.rag import (
    format_search_results,
    generate_answer,
    parse_repl_line,
    rag_context,
    rag_search,
    rows_to_results,
)


def build_chunks(spark, n_pages: int):
    from pyspark.sql import functions as F

    from pdf_extraction_spark.operators.embed import embed_documents
    from pdf_extraction_spark.plans.pipeline import filtered_chunks, scored_chunks, turns_table
    from pdf_extraction_spark.sources.pages import synth_pages_df

    turns = scored_chunks(filtered_chunks(turns_table(synth_pages_df(spark, n_pages))))
    turns = turns.withColumnRenamed("quality_score", "quality_score")
    emb = embed_documents(turns, text_col="content")
    return emb.select(
        "chunk_id", "company", "date", "speaker", "speaker_role",
        "content", "quality_score", "embedding",
    )


def main():
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("chunks_dir", nargs="?", default=None,
                    help="parquet dir of embedded chunks (omit to synthesize)")
    ap.add_argument("--pages", type=int, default=300)
    ns = ap.parse_args()
    n_pages = ns.pages

    from pdf_extraction_spark.session import get_spark

    spark = get_spark(app_name="rag_repl", extra_conf={"spark.ui.showConsoleProgress": "false"})

    if ns.chunks_dir:
        chunks = spark.read.parquet(ns.chunks_dir)
    else:
        print(f"building embedded chunks from {n_pages} synthetic pages...")
        chunks = build_chunks(spark, n_pages)
    chunks = chunks.persist()
    print(f"RAG search ready: {chunks.count()} chunks")
    print("commands: quit | sources | <question> [company:NAME]")

    show_sources = False
    while True:
        try:
            line = input("? ").strip()
        except EOFError:
            break
        action, question, company = parse_repl_line(line)
        if action == "quit":
            break
        if action == "sources":
            show_sources = True
            print("will show sources for the next question")
            continue
        if action == "empty":
            continue

        topk = rag_search(chunks, question, k=5, company_filter=company)
        rows = topk.collect()
        if not rows:
            print("no relevant chunks found")
            continue
        print(f"found {len(rows)} relevant chunks")
        print("-" * 50)
        print(rag_context(topk))
        results = rows_to_results(rows)
        print("\n🤖 ANSWER (extractive — plug an LLM via generate_answer(llm=...)):")
        print(generate_answer(question, results))
        if show_sources:
            print("\n📚 DETAILED SOURCES:")
            print(format_search_results(results))
            show_sources = False
    print("bye")
    spark.stop()


if __name__ == "__main__":
    main()
