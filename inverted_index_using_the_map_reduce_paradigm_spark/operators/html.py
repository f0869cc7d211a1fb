"""HTML -> main-text extraction: the Common Crawl step between WARC
ingest and quality filtering.

The reference (``/root/reference/main.c++``) never sees markup — its
inputs are plain text files — so this is a north-star extension: the
real pipeline the WARC tier feeds (``warc_source_scan`` /
``warc_gz_extract``) hands over *HTML payloads*, and the step every
web-scale corpus build runs next is tag stripping + boilerplate
removal + entity decoding before any tokenizer or quality gate.

Spark-first shape: the whole extractor is a chain of ``regexp_replace``
Catalyst expressions — JVM-side, whole-stage-codegen'd, zero Python,
zero shuffles (a pure narrow map over the scan).  At 100 TB the cost
is exactly one pass over the payload bytes per executor core, the
same scaling as the scan itself.

Correctness model: the fixture wraps each document's text in a
deterministic HTML template (escaped body + entity-bearing literals +
script/style/nav/header/aside/footer traps), so the DuckDB oracle can
predict the extracted text in CLOSED FORM from the documents table —
any slip in block removal, tag stripping, entity decode order, or
whitespace collapse breaks the value hash.

Limitations of the expression form (documented, not load-bearing for
the fixture): block removal is non-nesting (a <nav> inside a <nav>
ends at the first close tag) and CDATA is stripped as tags.  The
stack-pass twin the codec tier's mapInPandas slot enables —
``html_extract_nested`` / ``html_main_text_stack`` below — handles
both; the expression form stays the default plan (zero Python), and
the twin is censused against it on the fixture plus a
nested-chrome/CDATA page in tests/test_pipeline.py.
"""

from __future__ import annotations

import sys

from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data import table
from ..registry import register

# the stack-pass extractor runs inside mapInPandas workers; serialize
# this module by value so executors need no package import (house
# pattern, operators/multimodal.py)
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# Link-dense / chrome blocks a main-text heuristic drops wholesale.
BOILERPLATE_TAGS = ("nav", "header", "aside", "footer")

# The entity-bearing literal the fixture plants inside the article so
# the decode chain is load-bearing for the oracle hash.
_ENTITY_SENTENCE_HTML = (
    "Tom &amp; Jerry wrote &lt;html&gt; &quot;literally&quot;"
    "&nbsp;&#39;here&#39;."
)
_ENTITY_SENTENCE_TEXT = "Tom & Jerry wrote <html> \"literally\" 'here'."


def html_escape(col: Column) -> Column:
    """Minimal body escaping for the fixture template (& first)."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    return F.replace(out, F.lit(">"), F.lit("&gt;"))


def html_wrap(doc_id: Column, text: Column) -> Column:
    """Deterministic page template: title + style/script traps (the
    script body contains a bare ``<`` so stripping order matters),
    chrome blocks around one <article> carrying the escaped text and
    the entity sentence."""
    return F.concat(
        F.lit("<html><head><title>Doc "), doc_id, F.lit("</title>"),
        F.lit("<style>p { margin: 0; }</style>"),
        F.lit('<script>if (1 < 2) { emit("x"); }</script>'),
        F.lit("</head><body>"),
        F.lit('<nav><a href="/">home</a> <a href="/docs">docs</a></nav>'),
        F.lit("<header><h1>corpus.example</h1></header>"),
        F.lit('<article data-doc="'), doc_id, F.lit('"><h2>Doc '),
        doc_id, F.lit("</h2><p>"), html_escape(text), F.lit("</p><p>"),
        F.lit(_ENTITY_SENTENCE_HTML), F.lit("</p></article>"),
        F.lit('<aside>related: <a href="/d/0">zero</a></aside>'),
        F.lit("<footer>&copy; 2026 corpus.example</footer>"),
        F.lit("</body></html>"),
    )


def html_wrap_py(doc_id: int, text: str) -> str:
    """Driver-side twin of ``html_wrap`` for fixture builders that run
    outside Spark (the WARC shard scaffolding).  MUST stay literally in
    sync with the expression template — a unit test asserts equality
    row-for-row, and the html oracles predict the extraction from the
    documents table in closed form, so drift breaks value hashes."""
    esc = (
        text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )
    return (
        f"<html><head><title>Doc {doc_id}</title>"
        "<style>p { margin: 0; }</style>"
        '<script>if (1 < 2) { emit("x"); }</script>'
        "</head><body>"
        '<nav><a href="/">home</a> <a href="/docs">docs</a></nav>'
        "<header><h1>corpus.example</h1></header>"
        f'<article data-doc="{doc_id}"><h2>Doc {doc_id}</h2><p>{esc}</p><p>'
        f"{_ENTITY_SENTENCE_HTML}</p></article>"
        '<aside>related: <a href="/d/0">zero</a></aside>'
        "<footer>&copy; 2026 corpus.example</footer>"
        "</body></html>"
    )


def html_title(col: Column) -> Column:
    """First <title> body (pre-strip, case-insensitive)."""
    return F.regexp_extract(col, r"(?is)<title[^>]*>(.*?)</title\s*>", 1)


def html_main_text(col: Column) -> Column:
    """Tag-soup HTML -> collapsed main text, all Catalyst expressions:

    0. drop comments (``<!-- -->`` may span lines and contain ``>``,
       so a naive tag strip would leave their tails behind);
    1. drop <script>/<style> WITH their content (their bodies may
       contain bare ``<`` / tag-like strings, so this runs first);
    2. drop the whole <head> block — title/meta/link are metadata,
       never main text (``<head\\b`` does not match ``<header``);
    3. drop boilerplate chrome blocks (nav/header/aside/footer) with
       content — the link-density heuristic's tag-level form;
    4. strip every remaining tag to a space;
    5. decode the common entities, ``&amp;`` LAST (the standard
       inverse of escape-& -first);
    6. collapse whitespace runs and trim.
    """
    out = F.regexp_replace(col, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(
        out, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " "
    )
    out = F.regexp_replace(out, r"(?is)<head\b[^>]*>.*?</head\s*>", " ")
    out = F.regexp_replace(
        out,
        r"(?is)<(" + "|".join(BOILERPLATE_TAGS) + r")\b[^>]*>.*?</\1\s*>",
        " ",
    )
    out = F.regexp_replace(out, r"(?s)<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&copy;", "(c)"),
        ("&amp;", "&"),
    ):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"[ \t\r\n]+", " "))


# Closed-form DuckDB prediction of the extracted main text.
_DUCK_MAIN_TEXT = (
    "trim(regexp_replace("
    "'Doc ' || doc_id || ' ' || text || ' Tom & Jerry wrote <html> "
    "\"literally\" ''here''.', '[ \\t\\r\\n]+', ' ', 'g'))"
)


@register(
    "html_extract",
    oracle=f"""
SELECT doc_id,
       'Doc ' || doc_id AS title,
       {_DUCK_MAIN_TEXT} AS main_text
FROM documents
""",
    description=(
        "HTML main-text extraction: script/style + chrome-block removal,"
        " tag strip, entity decode — pure Catalyst expressions"
    ),
    tags=("pipeline", "ingest", "text", "html"),
)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap every document in the deterministic page template, then
    invert it with the expression-chain extractor.  The oracle predicts
    title and main text in closed form, so every stage of the chain is
    value-hash load-bearing.  Plan: one scan, one narrow Project —
    zero shuffles, zero Python (pinned in test_plan_quality.py)."""
    docs = table(spark, sf_dir, "documents")
    html = html_wrap(F.col("doc_id"), F.col("text")).alias("html")
    return docs.select("doc_id", html).select(
        "doc_id",
        html_title(F.col("html")).alias("title"),
        html_main_text(F.col("html")).alias("main_text"),
    )


# Quality floor for the pipeline gate: collapsed-main-text word count.
HTML_MIN_WORDS = 30


@register(
    "warc_html_pipeline",
    oracle=f"""
WITH ext AS (
  SELECT doc_id, lang, {_DUCK_MAIN_TEXT} AS main_text FROM documents
), toks AS (
  SELECT lang, len(string_split(main_text, ' ')) AS n_words FROM ext
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_words
FROM toks
WHERE n_words >= {HTML_MIN_WORDS}
GROUP BY lang
""",
    description=(
        "WARC -> html_extract -> quality gate: the Common Crawl ingest"
        " chain end to end (real WARC.gz payloads, expression extractor)"
    ),
    tags=("pipeline", "ingest", "udf", "html"),
)
def q_warc_html_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest chain a web-corpus build actually runs: each document
    is wrapped as an HTML page, shipped inside a REAL two-record
    WARC.gz (same encoder as ``warc_gz_extract`` — that query pins the
    container math; this one pins what comes AFTER), decoded back on
    executors with zlib, put through ``html_main_text``, and gated on a minimum
    word count before a per-language rollup.

    100 TB shape: encode is fixture scaffolding; the measured path is
    decode (Arrow-batched mapInPandas, embarrassingly parallel per
    payload) -> extraction (JVM expression chain, same narrow map) ->
    one partial-aggregated shuffle on the 31-language key.  The gate
    runs BEFORE the shuffle, so rejected docs never leave their
    partition."""
    import pandas as pd

    from .multimodal import (
        _gzip_members,
        _parse_warc_record,
        _warc_payload,
    )

    def decode_bodies(batches):
        for pdf in batches:
            rows = []
            for doc_id, lang, payload in zip(
                pdf["doc_id"], pdf["lang"], pdf["payload"]
            ):
                members = _gzip_members(payload)
                records = [_parse_warc_record(m) for m in members]
                types = [h["WARC-Type"] for h, _ in records]
                if types != ["warcinfo", "response"]:
                    raise ValueError(f"unexpected record sequence {types}")
                rows.append((doc_id, lang, records[1][1].decode()))
            yield pd.DataFrame(rows, columns=["doc_id", "lang", "html"])

    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id",
        "lang",
        _warc_payload(
            "doc_id", html_wrap(F.col("doc_id"), F.col("text"))
        ).alias("payload"),
    )
    pages = payloads.mapInPandas(
        decode_bodies, schema="doc_id long, lang string, html string"
    )
    ext = pages.select(
        "lang", html_main_text(F.col("html")).alias("main_text")
    )
    return (
        ext.select(
            "lang", F.size(F.split("main_text", " ")).alias("n_words")
        )
        .filter(F.col("n_words") >= HTML_MIN_WORDS)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("n_words"),
        )
    )


@register(
    "warc_source_html",
    oracle=f"""
SELECT doc_id,
       'Doc ' || doc_id AS title,
       {_DUCK_MAIN_TEXT} AS main_text
FROM documents
""",
    description=(
        "format('warc') scan with .option('body') -> html_main_text:"
        " the DataSource-native Common Crawl extraction path"
    ),
    tags=("pipeline", "ingest", "source", "udf", "html"),
)
def q_warc_source_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DataSource-native form of the extraction chain: HTML pages
    shipped inside real .warc.gz shards are scanned with
    ``spark.read.format("warc").option("body", "true")`` (one
    InputPartition per archive — the 100 TB fan-out shape) and the
    extractor runs as the same JVM expression chain directly on the
    source's body column.  Against ``warc_html_pipeline`` (per-row
    encode/decode UDFs) this pins the path a production crawl job
    actually takes: archives already exist on storage, the scan IS the
    decode, and everything after it is narrow expressions."""
    import hashlib as _h

    from ..sources.warc_source import WarcDataSource, build_warc_shards

    tag = _h.sha1(f"html:{sf_dir}".encode()).hexdigest()[:10]
    out_dir = f"/tmp/spark_graft_warc_html_{tag}"
    build_warc_shards(sf_dir, out_dir, wrap=html_wrap_py)
    spark.dataSource.register(WarcDataSource)
    pages = (
        spark.read.format("warc")
        .option("path", out_dir)
        .option("body", "true")
        .load()
    )
    return pages.select(
        "doc_id",
        html_title(F.col("body")).alias("title"),
        html_main_text(F.col("body")).alias("main_text"),
    )


# --------------------------------------------------------------------------
# stack-pass twin (r12): nesting-safe block removal + literal CDATA
# --------------------------------------------------------------------------

_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&copy;", "(c)"),
    ("&amp;", "&"),
)
_RAW_TEXT_TAGS = ("script", "style")
_SUPPRESSED_TAGS = ("head",) + BOILERPLATE_TAGS


def html_main_text_stack(html: str) -> str:
    """Sequential single-pass extractor with a suppression STACK — the
    semantics ``html_main_text``'s regex chain approximates, exact on
    the two inputs the expression form documents as out of scope:

    * nested chrome (``<nav><nav>..</nav>..</nav>``): an open tag of a
      suppressed element pushes, its close pops — text after the inner
      close is still suppressed until the OUTER close;
    * CDATA sections: ``<![CDATA[..]]>`` content is literal text (the
      regex chain strips it as a tag), suppressed only when inside a
      suppressed block.

    Script/style are raw-text elements: their bodies (which may contain
    bare ``<``) are skipped to the matching close tag, same as the
    expression form.  Entity decode and whitespace collapse are
    byte-identical to the expression chain, so on non-nested pages the
    two extractors agree exactly (censused in tests and by the
    ``html_extract_nested`` oracle, which is the same closed form as
    ``html_extract``'s)."""
    out: list[str] = []
    supp: list[str] = []  # stack of open suppressed-element names
    i, n = 0, len(html)
    low = html.lower()
    while i < n:
        lt = html.find("<", i)
        if lt < 0:
            if not supp:
                out.append(html[i:])
            break
        if lt > i and not supp:
            out.append(html[i:lt])
        out.append(" ")
        i = lt
        if html.startswith("<!--", i):
            end = html.find("-->", i + 4)
            i = n if end < 0 else end + 3
            continue
        if html.startswith("<![CDATA[", i):
            end = html.find("]]>", i + 9)
            body_end = n if end < 0 else end
            if not supp:
                out.append(html[i + 9 : body_end])
            i = n if end < 0 else end + 3
            continue
        gt = html.find(">", i)
        if gt < 0:  # unterminated tag: drop the tail like the regex form
            break
        tag_body = html[i + 1 : gt].strip()
        i = gt + 1
        closing = tag_body.startswith("/")
        name = tag_body.lstrip("/").split(None, 1)[0].rstrip("/").lower() if tag_body else ""
        if not closing and name in _RAW_TEXT_TAGS and not tag_body.endswith("/"):
            close = low.find(f"</{name}", i)
            if close < 0:
                break
            gt2 = html.find(">", close)
            i = n if gt2 < 0 else gt2 + 1
            continue
        if name in _SUPPRESSED_TAGS:
            if closing:
                if supp and supp[-1] == name:
                    supp.pop()
            elif not tag_body.endswith("/"):
                supp.append(name)
    text = "".join(out)
    for ent, ch in _ENTITIES:
        text = text.replace(ent, ch)
    return " ".join(text.split())


@register(
    "html_extract_nested",
    oracle=f"""
SELECT doc_id,
       'Doc ' || doc_id AS title,
       {_DUCK_MAIN_TEXT} AS main_text
FROM documents
""",
    description=(
        "nesting-safe HTML extraction: stack-pass mapInPandas twin of"
        " html_extract (nested chrome blocks, literal CDATA)"
    ),
    tags=("pipeline", "ingest", "udf", "text", "html"),
)
def q_html_extract_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``html_extract`` with the stack-pass extractor in the Arrow
    mapInPandas slot: same fixture template, same closed-form oracle —
    so the twin provably agrees with the expression chain wherever the
    chain is correct, while ALSO handling nested chrome and CDATA
    (pinned against a pathological page in tests/test_pipeline.py).

    100 TB posture: identical to the codec tier — one narrow
    Arrow-batched pass per partition, zero shuffles; ~3x the expression
    chain's per-byte cost (Python loop vs codegen), which is why the
    expression form remains the registered default and this twin is
    the opt-in for markup where nesting is load-bearing."""
    import pandas as pd

    def extract(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "title": [
                        html_main_text_stack(
                            # title via the same stack pass on the bare
                            # <title> body (head is suppressed in the
                            # main pass)
                            _title_of(h)
                        )
                        for h in pdf["html"]
                    ],
                    "main_text": [html_main_text_stack(h) for h in pdf["html"]],
                }
            )

    import re

    _title_re = re.compile(r"(?is)<title[^>]*>(.*?)</title\s*>")

    def _title_of(h: str) -> str:
        m = _title_re.search(h)
        return m.group(1) if m else ""

    docs = table(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id", html_wrap(F.col("doc_id"), F.col("text")).alias("html")
    )
    return pages.mapInPandas(
        extract, schema="doc_id long, title string, main_text string"
    )
