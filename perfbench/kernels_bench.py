"""Single-thread, in-process time per document of the pure-Python kernels
over a seeded sample of the ``sources.synth`` corpus, split by doc type:
the HTML kernels over the HTML documents, the PDF kernel over the PDFs,
the cleaner and the transcript segmenter over all of them."""

import time

from pdf_extraction_spark.kernels.categories import categorize
from pdf_extraction_spark.kernels.extract import extract_document, is_pdf_payload
from pdf_extraction_spark.kernels.filters import keep_chunk
from pdf_extraction_spark.kernels.htmlio import decode_html_payload, extract_main_content, extract_title
from pdf_extraction_spark.kernels.pdfio import extract_pdf_text
from pdf_extraction_spark.kernels.quality import quality_score
from pdf_extraction_spark.kernels.text_cleaner import clean_text
from pdf_extraction_spark.kernels.transcript import parse_transcript
from pdf_extraction_spark.operators.embed import embed_text

from perfbench import inputs

REPEATS = 3


def _us_per_item(fn, items) -> float:
    """Median over REPEATS passes of the mean time per item."""
    if not items:
        return 0.0
    passes = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        for item in items:
            fn(item)
        passes.append((time.perf_counter() - t0) / len(items) * 1e6)
    return sorted(passes)[len(passes) // 2]


def kernel_metrics(seed: int, n_docs: int, questions) -> tuple:
    """(per-layer metrics, total kernel µs per document)."""
    rows = inputs.synth_rows(seed, n_docs)
    html = [r["html"] for r in rows if not is_pdf_payload(r["url"], r["html"])]
    pdfs = [r["html"] for r in rows if is_pdf_payload(r["url"], r["html"])]
    decoded = [decode_html_payload(p) for p in html]
    raw = [extract_main_content(h) for h in decoded] + [extract_pdf_text(p) for p in pdfs]
    cleaned = [clean_text(t) for t in raw]
    turns = [(d["speaker"], d["text"]) for t in cleaned for d in parse_transcript(t)[1]]
    docs = [(r["url"], r["html"]) for r in rows]

    def whole_doc(doc):
        _title, text = extract_document(*doc)
        parse_transcript(text)

    metrics = {
        "kernels.htmlio.decode_html_payload.us_per_doc": _us_per_item(decode_html_payload, html),
        "kernels.htmlio.extract_main_content.us_per_doc": _us_per_item(extract_main_content, decoded),
        "kernels.htmlio.extract_title.us_per_doc": _us_per_item(extract_title, decoded),
        "kernels.pdfio.extract_pdf_text.us_per_doc": _us_per_item(extract_pdf_text, pdfs),
        "kernels.text_cleaner.clean_text.us_per_doc": _us_per_item(clean_text, raw),
        "kernels.transcript.parse_transcript.us_per_doc": _us_per_item(parse_transcript, cleaned),
        "kernels.filters.keep_chunk.us_per_turn": _us_per_item(lambda t: keep_chunk(*t), turns),
        "kernels.categories.categorize.us_per_turn": _us_per_item(lambda t: categorize(t[1]), turns),
        "kernels.quality.quality_score.us_per_turn": _us_per_item(lambda t: quality_score(t[1]), turns),
        "operators.embed.embed_text.us": _us_per_item(lambda q: embed_text(q[0]), questions),
    }
    return metrics, _us_per_item(whole_doc, docs)
