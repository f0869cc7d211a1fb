"""Drop-in CLI for the reference binary.

The reference runs as ``./program <M> <R> <manifest>`` (argv parsing at
main.c++:277-287: M mapper threads, R reducer threads, master file) and
writes ``a.txt`` … ``z.txt`` into the working directory (main.c++:
231-233).  This entry point accepts the same call shape::

    python -m inverted_index_using_the_map_reduce_paradigm_spark <M> <R> <manifest> <out_dir>

M and R become the Spark local-mode parallelism hint (max of the two —
Spark schedules both "phases" over one executor pool; the mapper/
reducer split is meaningless under a shuffle engine).  ``out_dir`` is
required and is REPLACED on each run (the letter-file sink clears it
first — unlike the reference, which drops its files into the working
directory).  The output is byte-compatible
with the reference: 26 files, ``word:[d1 d2 … dn]`` lines, rows ordered
(doc_freq DESC, word ASC), postings ascending, 1-based doc ids in
manifest order.
"""

from __future__ import annotations

import sys

from .operators.inverted_index import formatted_index
from .session import get_spark
from .sources.manifest import read_corpus
from .sources.sinks import collect_reference_layout, write_letter_index

USAGE = (
    "usage: python -m inverted_index_using_the_map_reduce_paradigm_spark"
    " <num_mappers> <num_reducers> <manifest> <out_dir>\n"
    "   or: python -m inverted_index_using_the_map_reduce_paradigm_spark"
    " sql \"<query>\" [sf_dir]\n"
    "   or: python -m inverted_index_using_the_map_reduce_paradigm_spark"
    " query <name|--list> [sf_dir]\n"
    "   or: python -m inverted_index_using_the_map_reduce_paradigm_spark"
    " explain <name> [sf_dir]"
)


def run_sql(spark, query: str, sf_dir: str):
    """Ad-hoc SQL surface: the fixture tables are registered as views
    plus a lazy ``inverted_index`` view (word, postings, doc_freq,
    letter) built over ``documents`` — Catalyst inlines the view, so a
    filtered query against it still gets pushdown through the
    tokenize/aggregate pipeline.  Returns the result DataFrame."""
    from .data import register_views, table
    from .operators.inverted_index import build_index

    register_views(spark, sf_dir)
    build_index(table(spark, sf_dir, "documents")).createOrReplaceTempView(
        "inverted_index"
    )
    return spark.sql(query)


def sql_main(argv: list[str]) -> int:
    if not argv or len(argv) > 2:
        print(USAGE, file=sys.stderr)
        return 2
    query = argv[0]
    sf_dir = argv[1] if len(argv) == 2 else "/root/testdata/sf0.001"
    spark = get_spark("inverted_index_sql")
    run_sql(spark, query, sf_dir).show(100, truncate=False)
    return 0


def query_main(argv: list[str]) -> int:
    """Run any registered engine query by name (the whole SURVEY.md §2
    surface is reachable without writing code): ``query --list`` prints
    the catalog, ``query <name> [sf_dir]`` executes and shows rows."""
    from .registry import load_all

    if not argv or len(argv) > 2:
        print(USAGE, file=sys.stderr)
        return 2
    qs = load_all()
    if argv[0] in ("--list", "-l"):
        for name in sorted(qs):
            q = qs[name]
            kind = "oracle" if q.oracle else "rows-only"
            print(f"{name}\t[{kind}]\t{q.description}")
        return 0
    name = argv[0]
    if name not in qs:
        print(f"unknown query {name!r}; see `query --list`", file=sys.stderr)
        return 2
    sf_dir = argv[1] if len(argv) == 2 else "/root/testdata/sf0.001"
    spark = get_spark("inverted_index_query")
    qs[name].fn(spark, sf_dir).show(100, truncate=False)
    return 0


def explain_main(argv: list[str]) -> int:
    """Print the scale-relevant plan audit for a registered query —
    pushed filters, join strategies, exchange (shuffle) count, then
    the full physical plan.  The same facts the plan-quality tests
    pin and PLANS.md records, on demand for any query."""
    from .plans import audit
    from .registry import load_all

    if not argv or len(argv) > 2:
        print(USAGE, file=sys.stderr)
        return 2
    qs = load_all()
    name = argv[0]
    if name not in qs:
        print(f"unknown query {name!r}; see `query --list`", file=sys.stderr)
        return 2
    sf_dir = argv[1] if len(argv) == 2 else "/root/testdata/sf0.001"
    spark = get_spark("inverted_index_explain")
    df = qs[name].fn(spark, sf_dir)
    print(f"# {name} — {qs[name].description}")
    print(f"join strategies: {audit.join_strategies(df) or 'none'}")
    print(f"exchanges: {audit.exchange_count(df)}")
    pushed = audit.pushed_filters(df)
    print(f"scans with pushed filters: {len(pushed)}")
    for pf in pushed:
        print(f"  {pf}")
    print()
    print(audit.physical_plan(df))
    return 0


def main(argv: list[str]) -> int:
    if argv and argv[0] == "sql":
        return sql_main(argv[1:])
    if argv and argv[0] == "query":
        return query_main(argv[1:])
    if argv and argv[0] == "explain":
        return explain_main(argv[1:])
    if len(argv) != 4:
        print(USAGE, file=sys.stderr)
        return 2
    mappers, reducers = int(argv[0]), int(argv[1])
    manifest = argv[2]
    out_dir = argv[3]

    parallelism = max(mappers, reducers, 1)
    spark = get_spark("inverted_index_cli", shuffle_partitions=parallelism)
    # whole-file rows: tasks open the local manifest files themselves
    # (remote schemes and files over WHOLETEXT_MAX_BYTES go through
    # Spark's text scan); validate fails loud, naming missing paths,
    # instead of silently dropping a document
    docs = read_corpus(spark, manifest, validate=True, wholetext=True)
    # bulk build: the Arrow bytes.translate tokenizer (byte-identical
    # output, verified by the race harness and fidelity suite)
    write_letter_index(formatted_index(docs, arrow_tokenizer=True), out_dir)
    collect_reference_layout(out_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
