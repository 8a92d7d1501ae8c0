"""Seeded inputs for every workload.

The program only ever sees the generated files: pages tables written as
parquet (several files so that ``local[4]`` gets one task per core) and
question strings. Everything here is a pure function of the seed.
"""

import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extraction_spark.kernels.pdfio import build_minimal_pdf
from pdf_extraction_spark.sources.synth import COMPANIES, synth_page_row

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def synth_rows(seed: int, n: int) -> list:
    """The ``sources.synth`` corpus: ~70% HTML, ~30% PDF, host-skewed."""
    return [synth_page_row(i, seed) for i in range(n)]


def write_pages(rows: list, out_dir: str, n_files: int) -> str:
    """Write ``rows`` as ``n_files`` parquet files of equal row count."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        part = rows[k * step : (k + 1) * step]
        if not part:
            break
        table = pa.Table.from_pylist(part, schema=PAGES_ARROW_SCHEMA)
        pq.write_table(table, os.path.join(out_dir, f"part-{k:03d}.parquet"))
    return out_dir


def payload_mb(rows: list) -> float:
    return sum(len(r["html"]) for r in rows) / 1e6


# --------------------------------------------------------------------------
# Common-Crawl-sized pages
# --------------------------------------------------------------------------

_SECTIONS = ["markets", "companies", "economy", "technology", "opinion", "health",
             "industry", "investing", "regulation", "earnings", "world", "careers"]

_STREAM_RE = re.compile(rb"stream\n(.*?)\nendstream", re.DOTALL)
_TJ_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\) Tj")


def _nav(rng: random.Random, n_links: int) -> str:
    items = "".join(
        f'<li class="nav-item"><a href="/{rng.choice(_SECTIONS)}/{k}" '
        f'data-track="nav-{k}">{rng.choice(_SECTIONS).capitalize()} {k}</a></li>'
        for k in range(n_links)
    )
    return f'<nav class="site-nav"><ul>{items}</ul></nav>'


def _script(rng: random.Random, n_entries: int) -> str:
    body = ",".join(
        f'"k{k}":{{"id":{rng.randint(0, 10**6)},"slot":"ad-{k}","w":{rng.randint(100, 900)}}}'
        for k in range(n_entries)
    )
    return f"<script>window.__CONFIG__={{{body}}};</script>"


def _aside(rng: random.Random, n_links: int) -> str:
    items = "".join(
        f'<li><a href="/story/{rng.randint(1, 10**6)}">Read more about '
        f"{rng.choice(_SECTIONS)} and {rng.choice(_SECTIONS)} today</a></li>"
        for _ in range(n_links)
    )
    return f'<aside class="related"><ul>{items}</ul></aside>'


def _wrap_html(payload: bytes, rng: random.Random) -> bytes:
    """Bury the synth page's main content in tens of KB of nav, script and
    aside boilerplate."""
    html = payload.decode("utf-8")
    head_extra = _script(rng, rng.randint(150, 400))
    top = _nav(rng, rng.randint(120, 300))
    bottom = _aside(rng, rng.randint(60, 160)) + _script(rng, rng.randint(50, 150))
    html = html.replace("</head>", head_extra + "</head>", 1)
    html = html.replace("<body>", "<body>" + top, 1)
    html = html.replace("</body>", bottom + "</body>", 1)
    return html.encode("utf-8")


def _unescape(raw: bytes) -> str:
    return re.sub(rb"\\(.)", rb"\1", raw).decode("latin-1")


def _compressed_pdf(payload: bytes, rng: random.Random) -> bytes:
    """Re-emit the synth PDF's page text, repeated to a realistic page
    count, as a Flate-compressed PDF."""
    pages = [
        "\n".join(_unescape(m) for m in _TJ_RE.findall(stream))
        for stream in _STREAM_RE.findall(payload)
    ]
    return build_minimal_pdf(pages * rng.randint(6, 16), compress=True)


def cc_rows(seed: int, n: int) -> list:
    rows = []
    for i in range(n):
        row = synth_page_row(i, seed)
        rng = random.Random(f"cc:{seed}:{i}")
        if row["html"][:5] == b"%PDF-":
            row["html"] = _compressed_pdf(row["html"], rng)
        else:
            row["html"] = _wrap_html(row["html"], rng)
        rows.append(row)
    return rows


# --------------------------------------------------------------------------
# RAG questions
# --------------------------------------------------------------------------

_TOPICS = [
    "revenue growth", "EBITDA margin", "net profit", "sales growth", "gross margin",
    "guidance and outlook", "product pipeline", "oncology launches", "FDA approval",
    "regulatory inspection", "US market share", "Europe expansion", "supply chain",
    "capacity utilization", "pricing pressure", "dividend", "share repurchase",
    "biosimilar clinical trials", "capex investment", "operating margin",
]
_STEMS = ["What did management say about", "How is the company doing on",
          "Summarize the discussion of", "Any update on", "Explain the trend in"]


def questions(seed: int, n: int) -> list:
    """(question, company filter or None); about a third are filtered."""
    rng = random.Random(f"rag:{seed}")
    out = []
    for _ in range(n):
        topics = rng.sample(_TOPICS, rng.randint(1, 3))
        q = f"{rng.choice(_STEMS)} {' and '.join(topics)}?"
        company = rng.choice(COMPANIES) if rng.random() < 1 / 3 else None
        out.append((q, company))
    return out
