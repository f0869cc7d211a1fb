"""End-to-end reference-fidelity test (SURVEY.md §5.1): run the engine
on the reference's NATIVE input format (manifest + text files) and
check the 26-letter-file output layout byte-for-byte against the
reference's documented semantics (main.c++:231-266,37-44,239-252).
"""

from __future__ import annotations

import os
import string

import pytest

from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import formatted_index
from inverted_index_using_the_map_reduce_paradigm_spark.sources.manifest import read_corpus
from inverted_index_using_the_map_reduce_paradigm_spark.sources.sinks import (
    collect_reference_layout,
    write_letter_index,
)

CORPUS = {
    "f1.txt": "The quick brown fox\njumps over the lazy dog!\n",
    "f2.txt": "the DOG barks 123\nquick-quick zebra\n",
    "f3.txt": "apple apple apple\n",
    # strtok delimiter asymmetry (main.c++:102,143): 'one\ttwo' sits
    # after the first token, so the tab joins -> 'onetwo'; the tab
    # ending 'three' terminates the FIRST token, so 'four' splits off.
    "f4.txt": "tab one\ttwo\nthree\tfour five\n",
}


def make_corpus(tmp_path):
    paths = []
    for name, text in CORPUS.items():
        p = tmp_path / name
        p.write_text(text)
        paths.append(str(p))
    manifest = tmp_path / "manifest.txt"
    manifest.write_text(f"{len(paths)}\n" + "\n".join(paths) + "\n")
    return str(manifest)


def test_manifest_reader_assigns_1based_ids(spark, tmp_path):
    docs = read_corpus(spark, make_corpus(tmp_path))
    ids = {r.doc_id for r in docs.select("doc_id").distinct().collect()}
    assert ids == {1, 2, 3, 4}


def test_reference_output_layout(spark, tmp_path):
    manifest = make_corpus(tmp_path)
    out = str(tmp_path / "out")
    docs = read_corpus(spark, manifest)
    write_letter_index(formatted_index(docs), out)
    # the sink alone leaves exactly the 26 letter files: no _SUCCESS,
    # .crc, temp files or letter= directories; collecting the layout
    # again keeps every byte
    letters = [f"{c}.txt" for c in string.ascii_lowercase]
    assert sorted(os.listdir(out)) == letters
    written = {f: (tmp_path / "out" / f).read_bytes() for f in letters}
    collect_reference_layout(out)
    assert {f: (tmp_path / "out" / f).read_bytes() for f in letters} == written

    # semantics: 'the' appears in docs 1 and 2.  'quick-quick' is ONE
    # whitespace token that normalizes to 'quickquick' (main.c++:110-124
    # strips the '-' and joins the fragments), so 'quick' is doc-1-only.
    t = (tmp_path / "out" / "t.txt").read_text().splitlines()
    assert t[0] == "the:[1 2]"  # df=2 sorts above df=1 't' words
    q = (tmp_path / "out" / "q.txt").read_text().splitlines()
    assert "quick:[1]" in q and "quickquick:[2]" in q
    # digits vanish: '123' must appear nowhere; letter files with no
    # words are created empty
    x = (tmp_path / "out" / "x.txt").read_text()
    assert x == ""
    a = (tmp_path / "out" / "a.txt").read_text().splitlines()
    assert a == ["apple:[3]"]  # per-doc dedup: one posting despite 3 occurrences
    # ordering within a letter file: df DESC then word ASC
    d = (tmp_path / "out" / "d.txt").read_text().splitlines()
    assert d == ["dog:[1 2]"]
    # strtok asymmetry: mid-line tab joins ('onetwo'), first-token tab
    # splits ('three' / 'four')
    o = (tmp_path / "out" / "o.txt").read_text().splitlines()
    assert "onetwo:[4]" in o and "one:[4]" not in " ".join(o)
    f = (tmp_path / "out" / "f.txt").read_text().splitlines()
    assert "four:[4]" in f
    t2 = (tmp_path / "out" / "t.txt").read_text().splitlines()
    assert "three:[4]" in t2 and "two:[4]" not in t2


def test_cli_drop_in_invocation(spark, tmp_path, monkeypatch):
    """``python -m <pkg> M R manifest out`` must produce the reference
    layout end-to-end (the reference's exact call shape, main.c++:
    277-287)."""
    from inverted_index_using_the_map_reduce_paradigm_spark.__main__ import main

    manifest = make_corpus(tmp_path)
    out = str(tmp_path / "cli_out")
    # get_spark inside main() reuses the active test session via
    # getOrCreate, so M/R only influence shuffle partitioning.
    assert main(["4", "2", manifest, out]) == 0
    files = {f for f in os.listdir(out) if not f.startswith(("_", "."))}
    assert files == {f"{c}.txt" for c in string.ascii_lowercase}
    assert (tmp_path / "cli_out" / "a.txt").read_text() == "apple:[3]\n"


def test_manifest_paths_with_uri_hostile_chars(spark, tmp_path):
    """A manifest path containing spaces / '%' / '+' must not silently
    drop its document: input_file_name() returns a percent-encoded URI,
    and the join decodes it before matching driver-side paths."""
    d = tmp_path / "odd dir %20 + stuff"
    d.mkdir()
    p1 = d / "with space.txt"
    p1.write_text("alpha beta\n")
    p2 = d / "pct%sign+plus.txt"
    p2.write_text("gamma\n")
    manifest = tmp_path / "m.txt"
    manifest.write_text(f"2\n{p1}\n{p2}\n")
    docs = read_corpus(spark, str(manifest), validate=True)
    rows = {r.doc_id for r in docs.select("doc_id").distinct().collect()}
    assert rows == {1, 2}


def test_input_files_match_input_file_name(spark, tmp_path):
    """validate=True checks the manifest against DataFrame.inputFiles()
    instead of scanning the data; that is only sound because the
    listing yields exactly the strings input_file_name() yields, here
    for a space, '%', '+' and a non-ASCII name."""
    from pyspark.sql import functions as F

    d = tmp_path / "odd dir %20 + stuff"
    d.mkdir()
    paths = []
    for name in ("with space.txt", "pct%sign+plus.txt", "é acute.txt"):
        (d / name).write_text("alpha\n")
        paths.append(str(d / name))
    df = spark.read.text(paths)
    seen = {r.f for r in df.select(F.input_file_name().alias("f")).distinct().collect()}
    assert sorted(df.inputFiles()) == sorted(seen)
    assert len(seen) == 3


def test_input_files_read_in_one_transfer_lists_the_same_files(spark, tmp_path):
    """validate=True reads the scan's file listing as one NUL-joined
    string; it lists exactly what DataFrame.inputFiles() lists, for
    names holding a space and a '+' too, and nothing for a scan of no
    files."""
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.manifest import _input_files

    d = tmp_path / "odd dir + more"
    d.mkdir()
    paths = []
    for name in ("with space.txt", "a+b.txt", "plain.txt"):
        (d / name).write_text("alpha\n")
        paths.append(str(d / name))
    df = spark.read.text(paths)
    listed = _input_files(df)
    assert sorted(listed) == sorted(df.inputFiles())
    assert len(listed) == 3
    assert _input_files(spark.range(1)) == []


def test_validate_names_files_the_spark_listing_skips(spark, tmp_path):
    """Spark's file listing drops names starting with '_' or '.' even
    when given explicitly; validate=True must say so and name them
    instead of blaming the path encoding alone."""
    d = tmp_path / "c"
    d.mkdir()
    names = [f"doc{i}.txt" for i in range(10)] + ["_hidden.txt", ".dot.txt"]
    for name in names:
        (d / name).write_text("alpha\n")
    mf = tmp_path / "m.txt"
    mf.write_text(f"{len(names)}\n" + "\n".join(str(d / n) for n in names) + "\n")
    assert read_corpus(spark, str(mf)).select("doc_id").distinct().count() == 10
    with pytest.raises(RuntimeError) as err:
        read_corpus(spark, str(mf), validate=True)
    msg = str(err.value)
    assert "12 non-empty files listed but only 10 matched the scan" in msg
    assert "_hidden.txt" in msg and ".dot.txt" in msg
    assert "skips names starting with '_' or '.'" in msg


def test_read_corpus_doc_id_map_is_a_local_relation(spark, tmp_path):
    """The whole-file read starts from a LocalRelation of (doc_id,
    path) that the tasks open: no Python RDD (a LogicalRDD built from a
    Python list ran a Python stage under a second worker factory) and
    no join against the doc-id map."""
    docs = read_corpus(spark, make_corpus(tmp_path), wholetext=True)
    plan = docs._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert "Join" not in plan, plan


def _manifest(tmp_path, blobs: dict[str, bytes]) -> str:
    d = tmp_path / "corpus"
    d.mkdir()
    for name, data in blobs.items():
        (d / name).write_bytes(data)
    mf = tmp_path / "m.txt"
    mf.write_text(f"{len(blobs)}\n" + "\n".join(str(d / n) for n in blobs) + "\n")
    return str(mf)


def test_wholetext_read_is_byte_identical_to_spark_wholetext_scan(spark, tmp_path):
    """The task-side read emits each file's exact bytes, the bytes
    Spark's wholetext scan yields: CR, tab, the Kelvin sign (which
    lower-cases to ASCII k), non-ASCII, an invalid UTF-8 byte, with and
    without a trailing newline."""
    from pyspark.sql import functions as F

    blobs = {
        "cr.txt": b"alpha\rbeta\r\ngamma\n",
        "tab.txt": b"one\ttwo\tthree\n",
        "kelvin.txt": "\u212a kelvin caf\u00e9 na\u00efve\n".encode(),
        "bad.txt": b"ok \xff \xc3 bad\n",
        "no_newline.txt": b"no trailing newline",
    }
    mf = _manifest(tmp_path, blobs)
    docs = read_corpus(spark, mf, validate=True, wholetext=True)
    got = {
        r.doc_id: bytes(r.b)
        for r in docs.select("doc_id", F.col("text").cast("binary").alias("b")).collect()
    }
    paths = [str(tmp_path / "corpus" / n) for n in blobs]
    scan = spark.read.text(paths, wholetext=True).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("name"),
        F.col("value").cast("binary").alias("b"),
    )
    want = {list(blobs).index(r.name) + 1: bytes(r.b) for r in scan.collect()}
    assert got == want
    assert got == {i: b for i, b in enumerate(blobs.values(), 1)}


def test_wholetext_empty_file_gives_no_row(spark, tmp_path):
    mf = _manifest(tmp_path, {"a.txt": b"alpha\n", "empty.txt": b"", "b.txt": b"beta\n"})
    docs = read_corpus(spark, mf, validate=True, wholetext=True)
    assert sorted(r.doc_id for r in docs.collect()) == [1, 3]


def test_wholetext_missing_path_raises_naming_it(spark, tmp_path):
    """validate=True stats every path on the driver and names the
    missing or non-regular ones; without it, the task that opens a
    missing file raises."""
    mf = _manifest(tmp_path, {"ok.txt": b"alpha\n"})
    gone = tmp_path / "corpus" / "gone.txt"
    adir = tmp_path / "corpus" / "adir"
    adir.mkdir()
    ok = tmp_path / "corpus" / "ok.txt"
    (tmp_path / "m.txt").write_text(f"3\n{ok}\n{gone}\n{adir}\n")
    with pytest.raises(RuntimeError, match="2 paths are missing or not regular") as err:
        read_corpus(spark, mf, validate=True, wholetext=True)
    assert str(gone) in str(err.value) and str(adir) in str(err.value)
    (tmp_path / "m.txt").write_text(f"2\n{ok}\n{gone}\n")
    docs = read_corpus(spark, mf, wholetext=True)
    with pytest.raises(Exception, match="gone.txt"):
        docs.collect()


def test_wholetext_reads_underscore_and_dot_names(spark, tmp_path):
    """Spark's file listing skips names starting with '_' or '.'; the
    task-side read opens them like any other file (line mode still
    refuses them, see test_validate_names_files_the_spark_listing_skips)."""
    mf = _manifest(
        tmp_path, {"doc.txt": b"alpha\n", "_hidden.txt": b"beta\n", ".dot.txt": b"gamma\n"}
    )
    docs = read_corpus(spark, mf, validate=True, wholetext=True)
    assert {r.doc_id: r.text for r in docs.collect()} == {
        1: "alpha\n",
        2: "beta\n",
        3: "gamma\n",
    }


def test_slice_plan_balances_bytes_per_task(spark, tmp_path):
    """slice_plan keeps LocalTableScan's equal-count contiguous slices
    (at most k of them) and balances their bytes; the read really hands
    each planned group to one task."""
    from pyspark.sql import functions as F

    from inverted_index_using_the_map_reduce_paradigm_spark.sources.manifest import slice_plan

    sizes = list(range(1, 401))
    for k in (1, 4, 7, 16):
        groups = slice_plan(sizes, k)
        n = len(sizes)
        assert [len(g) for g in groups] == [(i + 1) * n // k - i * n // k for i in range(k)]
        assert sorted(i for g in groups for i in g) == list(range(n))
        per_slice = [sum(sizes[i] for i in g) for g in groups]
        assert max(per_slice) - min(per_slice) <= k, (k, per_slice)
    assert len(slice_plan([5, 3], 4)) == 2
    assert slice_plan([], 4) == []

    # manifest order puts the big files first: unplanned, the first
    # task would read them all
    sizes = [4000 - 300 * i for i in range(12)]
    mf = _manifest(tmp_path, {f"f{i:02d}.txt": b"x" * n for i, n in enumerate(sizes)})
    k = spark.sparkContext.defaultParallelism
    docs = read_corpus(spark, mf, wholetext=True)
    by_task: dict[int, set[int]] = {}
    for r in docs.select("doc_id", F.spark_partition_id().alias("p")).collect():
        by_task.setdefault(r.p, set()).add(r.doc_id)
    planned = [{i + 1 for i in g} for g in slice_plan(sizes, k)]
    assert [by_task[p] for p in sorted(by_task)] == planned


def test_path_scheme_picks_the_reader(spark, tmp_path):
    """A plain path or ``file:`` URI names a local file, read in the
    tasks; any other scheme goes to Spark's scan, sized and probed
    through Hadoop's FileSystem (run here on a ``file:`` URI sent down
    that branch)."""
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.manifest import (
        _ends_nl,
        _local_path,
        _size,
    )

    p = tmp_path / "x.txt"
    p.write_bytes(b"alpha\n")
    q = tmp_path / "y.txt"
    q.write_bytes(b"no newline")
    assert _local_path("hdfs://nn:8020/c/a.txt") is None
    assert _local_path("s3a://bucket/a.txt") is None
    for form in (str(p), p.as_uri(), f"file:{p}", f"file://localhost{p}"):
        assert _local_path(form) == str(p), form
    assert _size(spark, p.as_uri(), None) == 6 and _ends_nl(spark, p.as_uri(), None)
    assert not _ends_nl(spark, q.as_uri(), None)
    mf = tmp_path / "m.txt"
    mf.write_text(f"2\n{p.as_uri()}\n{q}\n")
    docs = read_corpus(spark, str(mf), validate=True, wholetext=True)
    assert "Join" not in docs._jdf.queryExecution().optimizedPlan().toString()
    assert {r.doc_id: r.text for r in docs.collect()} == {1: "alpha\n", 2: "no newline"}


def test_wholetext_build_runs_three_jobs(spark, tmp_path, count_jobs):
    """A warm CLI build (validated whole-file read, Arrow tokenizer,
    letter sink) runs three Spark jobs: no file listing, no doc-id
    broadcast."""
    from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import (
        formatted_index,
    )

    manifest = make_corpus(tmp_path)

    def build():
        docs = read_corpus(spark, manifest, validate=True, wholetext=True)
        write_letter_index(formatted_index(docs, arrow_tokenizer=True), str(tmp_path / "out"))

    build()
    _, jobs = count_jobs(build)
    assert jobs == 3
    assert (tmp_path / "out" / "a.txt").read_text() == "apple:[3]\n"


def test_validate_raises_when_a_manifest_entry_is_lost(spark, tmp_path, monkeypatch):
    """validate=True is loud: when a non-empty manifest entry does not
    surface in the scan, read_corpus raises instead of returning a
    corpus without that document.  Skipping the URL decode makes the
    path with a space stop matching its percent-encoded scan URI."""
    from inverted_index_using_the_map_reduce_paradigm_spark.sources import manifest as m

    p1 = tmp_path / "with space.txt"
    p1.write_text("alpha beta\n")
    p2 = tmp_path / "plain.txt"
    p2.write_text("gamma\n")
    mf = tmp_path / "m.txt"
    mf.write_text(f"2\n{p1}\n{p2}\n")
    monkeypatch.setattr(m.F, "url_decode", lambda col: col)
    with pytest.raises(RuntimeError, match="2 non-empty files listed but only 1"):
        m.read_corpus(spark, str(mf), validate=True)


def test_null_and_empty_text_rows(spark):
    """Null / empty / whitespace-only documents flow through the whole
    pipeline without rows leaking into the index (the reference's
    empty-token segfault class, README.md:18)."""
    from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import build_index

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   \t  "), (4, "123 !!!"), (5, "real word")],
        ["doc_id", "text"],
    )
    idx = build_index(docs)
    rows = {r.word: list(r.postings) for r in idx.collect()}
    assert rows == {"real": [5], "word": [5]}


def test_segmented_sink_byte_identical_to_flat_sink(spark, tmp_path):
    """The bounded-state segmented path (build_segmented_index +
    write_letter_index_segmented) must produce byte-identical letter
    files to the flat path — segment size 2 forces real multi-segment
    words so the streaming concatenation is actually exercised."""
    from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import (
        build_segmented_index,
    )
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.sinks import (
        write_letter_index_segmented,
    )

    manifest = make_corpus(tmp_path)
    docs = read_corpus(spark, manifest)

    flat_out = str(tmp_path / "flat")
    write_letter_index(formatted_index(docs), flat_out)
    collect_reference_layout(flat_out)

    seg_out = str(tmp_path / "seg")
    write_letter_index_segmented(build_segmented_index(docs, segment_docs=2), seg_out)
    collect_reference_layout(seg_out)

    for c in string.ascii_lowercase:
        flat = (tmp_path / "flat" / f"{c}.txt").read_bytes()
        seg = (tmp_path / "seg" / f"{c}.txt").read_bytes()
        assert seg == flat, c


def test_parquet_index_partition_pruning(spark, tmp_path):
    """The stored columnar index prunes a term lookup to one letter
    partition (the storage form of the reference's 26-bucket layout)."""
    from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import build_index
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.manifest import read_corpus
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.sinks import (
        lookup_term,
        write_parquet_index,
    )

    manifest = make_corpus(tmp_path)
    out = str(tmp_path / "idx")
    write_parquet_index(build_index(read_corpus(spark, manifest)), out)

    hit = lookup_term(spark, out, "dog")
    rows = hit.collect()
    assert len(rows) == 1 and sorted(rows[0].postings) == [1, 2]
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(letter" in plan, plan[:2000]


def test_cli_sql_surface(spark):
    """The sql subcommand's core: fixture views + the lazy
    inverted_index view answer ad-hoc SQL, with the view inlined so
    term predicates push through the pipeline."""
    from inverted_index_using_the_map_reduce_paradigm_spark.__main__ import run_sql

    df = run_sql(
        spark,
        "SELECT word, doc_freq FROM inverted_index WHERE letter = 's' "
        "ORDER BY doc_freq DESC, word LIMIT 3",
        "/root/testdata/sf0.001",
    )
    rows = df.collect()
    assert 0 < len(rows) <= 3
    assert all(r.word.startswith("s") for r in rows)
    # and a plain relational query over the registered views
    n = run_sql(
        spark,
        "SELECT count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey",
        "/root/testdata/sf0.001",
    ).collect()[0].n
    assert n > 0


def test_cli_query_surface(spark, capsys):
    """`query --list` catalogs every registered op; `query <name>` runs
    one — the no-code path to the whole SURVEY.md §2 surface."""
    from inverted_index_using_the_map_reduce_paradigm_spark.__main__ import query_main
    from inverted_index_using_the_map_reduce_paradigm_spark.registry import load_all

    assert query_main(["--list"]) == 0
    listed = capsys.readouterr().out.strip().splitlines()
    assert len(listed) == len(load_all())

    assert query_main(["doc_freq_topk"]) == 0
    out = capsys.readouterr().out
    assert "doc_freq" in out

    assert query_main(["no_such_query"]) == 2


def test_segmented_sink_multi_segment_head_words(spark, tmp_path):
    """Byte fidelity when head words REALLY span many segments: with
    segment_docs=2, a word posted in 7 docs produces 4 segments whose
    streaming concatenation (sinks.py concat_stream) must reassemble
    the exact flat line — including a word whose segments straddle
    mapInPandas batch boundaries.  Both sinks leave exactly the 26
    letter files."""
    from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import (
        build_segmented_index,
    )
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.sinks import (
        write_letter_index_segmented,
    )

    # 9 docs: 'zebra' in all (4 segments at segment_docs=2), 'zoo' in 5
    # (3 segments), 'zap' in 2, plus unique words; interleaved doc_ids
    # so posting order != arrival order.
    rows = []
    for i in range(1, 10):
        words = ["zebra", f"unique{i}"]
        if i <= 5:
            words.append("zoo")
        if i in (3, 7):
            words.append("zap")
        rows.append((10 - i, " ".join(words)))  # descending ids
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    seg = build_segmented_index(docs, segment_docs=2)
    by_word = {
        r.word: r.n
        for r in seg.groupBy("word").count().withColumnRenamed("count", "n").collect()
    }
    assert by_word["zebra"] == 5 and by_word["zoo"] == 3  # real multi-segment

    flat_out = str(tmp_path / "flat")
    write_letter_index(formatted_index(docs), flat_out)
    seg_out = str(tmp_path / "seg")
    write_letter_index_segmented(seg, seg_out)

    collect_reference_layout(flat_out)
    collect_reference_layout(seg_out)
    for out in (flat_out, seg_out):
        assert sorted(os.listdir(out)) == [f"{c}.txt" for c in string.ascii_lowercase]
    z = (tmp_path / "flat" / "z.txt").read_text().splitlines()
    assert z[0] == "zebra:[1 2 3 4 5 6 7 8 9]"
    assert z[1] == "zoo:[5 6 7 8 9]"
    for c in string.ascii_lowercase:
        flat = (tmp_path / "flat" / f"{c}.txt").read_bytes()
        segb = (tmp_path / "seg" / f"{c}.txt").read_bytes()
        assert segb == flat, c


def test_dir_listing_fast_path_excludes_non_manifest_files(spark, tmp_path):
    """The manifest reader's directory-listing fast path (taken when
    files cluster into few directories) must yield EXACTLY the
    manifest's documents: extra files sharing the directory contribute
    no rows (the doc_id join is the filter), ids stay 1-based manifest
    positions, and validate=True stays green."""
    d = tmp_path / "shared"
    d.mkdir()
    listed = []
    for i in range(40):
        p = d / f"doc{i:02d}.txt"
        p.write_text(f"word{chr(97 + i % 26)} common\n")
        listed.append(str(p))
    for i in range(10):  # same dir, NOT in the manifest
        (d / f"stray{i}.txt").write_text("intruder intruder\n")
    manifest = tmp_path / "m.txt"
    manifest.write_text(f"{len(listed)}\n" + "\n".join(listed) + "\n")

    docs = read_corpus(spark, str(manifest), validate=True)
    rows = docs.collect()
    assert {r.doc_id for r in rows} == set(range(1, 41))
    assert all("intruder" not in r.text for r in rows)
    # id 1 is the manifest's FIRST entry
    first = [r.text for r in rows if r.doc_id == 1]
    assert first == ["worda common"]


def test_letter_reported_by_two_tasks_raises(spark, tmp_path):
    """Each letter file is written by the one task holding that letter
    (repartition('letter')).  Rows of one letter split over two tasks
    would make the two files replace each other, so the writer must
    raise instead of keeping either."""
    from pyspark.sql import functions as F

    from inverted_index_using_the_map_reduce_paradigm_spark.sources.sinks import (
        write_letter_files,
    )

    rows = spark.range(0, 2, 1, numPartitions=2).select(
        F.lit("a").alias("letter"),
        F.concat(F.lit("a"), F.col("id").cast("string"), F.lit(":[1]")).alias("line"),
    )
    out = tmp_path / "out"
    with pytest.raises(ValueError, match=r"letters \['a'\] were written by more than one task"):
        write_letter_files(rows, str(out))
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


def test_rebuild_into_same_out_dir_leaves_no_stale_letter(spark, tmp_path):
    """A second build into the same out_dir from a different corpus
    leaves exactly the second corpus's bytes: no letter file of the
    first corpus survives."""
    first = read_corpus(spark, make_corpus(tmp_path))  # has z, x empty
    d = tmp_path / "second"
    d.mkdir()
    (d / "g.txt").write_text("xylophone beta\nbeta\n")
    mf = tmp_path / "m2.txt"
    mf.write_text(f"1\n{d / 'g.txt'}\n")
    second = read_corpus(spark, str(mf))

    out = str(tmp_path / "out")
    write_letter_index(formatted_index(first), out)
    collect_reference_layout(out)
    assert (tmp_path / "out" / "z.txt").read_text() == "zebra:[2]\n"
    write_letter_index(formatted_index(second), out)
    collect_reference_layout(out)

    want = {"b": b"beta:[1]\n", "x": b"xylophone:[1]\n"}
    assert sorted(os.listdir(out)) == [f"{c}.txt" for c in string.ascii_lowercase]
    for c in string.ascii_lowercase:
        assert (tmp_path / "out" / f"{c}.txt").read_bytes() == want.get(c, b""), c


def test_cli_explain_surface(spark, capsys):
    """``explain <name>`` prints the plan audit (join strategies,
    exchange count, pushed filters, physical plan) for any registered
    query — the PLANS.md facts on demand."""
    from inverted_index_using_the_map_reduce_paradigm_spark.__main__ import main

    assert main(["explain", "tpch_q3"]) == 0
    out = capsys.readouterr().out
    assert "join strategies:" in out and "BroadcastHashJoin" in out
    assert "exchanges:" in out
    assert "PushedFilters" in out
    assert main(["explain", "no_such_query"]) == 2


def test_arrow_tokenizer_pipeline_byte_identical_to_expression(spark, tmp_path):
    """The bulk-build fast path (wholetext read + bytes.translate Arrow
    tokenizer) must produce the SAME 26 letter files, byte for byte, as
    the default expression pipeline — including the strtok tab
    asymmetry corpus file.  This is the unit-scale twin of the race
    harness's byte comparison against the compiled reference."""
    manifest = make_corpus(tmp_path)
    expr_out = str(tmp_path / "expr_out")
    arrow_out = str(tmp_path / "arrow_out")
    write_letter_index(
        formatted_index(read_corpus(spark, manifest)), expr_out
    )
    collect_reference_layout(expr_out)
    write_letter_index(
        formatted_index(
            read_corpus(spark, manifest, wholetext=True), arrow_tokenizer=True
        ),
        arrow_out,
    )
    collect_reference_layout(arrow_out)
    for c in string.ascii_lowercase:
        a = (tmp_path / "expr_out" / f"{c}.txt").read_bytes()
        b = (tmp_path / "arrow_out" / f"{c}.txt").read_bytes()
        assert a == b, c


def test_random_adversarial_corpus_byte_identical_to_compiled_reference(
    spark, tmp_path
):
    """The strongest fidelity check in the suite: compile the actual
    reference (g++ -O2), run BOTH programs on a seeded random corpus
    full of tokenizer hazards — tabs in every position, CR, unicode,
    digits, punctuation joins, repeated lines, empty and whitespace-only
    files — and byte-compare all 26 letter files.  This is the race
    harness's check at unit scale, against adversarial inputs the
    fixture corpus never exercises."""
    import random
    import shutil
    import subprocess

    if shutil.which("g++") is None:
        import pytest

        pytest.skip("g++ unavailable")

    rng = random.Random(42)
    pool = (
        ["quick", "Brown", "FOX", "dog", "zebra", "don't", "x2y", "a.b,c"]
        + ["\twordtab", "tab\tjoin", "Ünïcödé", "naïve", "123", "!!!", ""]
        + ["CR\rjoin", "mix3d_Case", "trail\t", "\tlead"]
        # Unicode lowercase folds INTO ascii (U+212A KELVIN -> 'k',
        # U+0130 -> 'i'): the bytewise reference deletes them; a
        # Unicode-aware lower() would keep the fold instead
        + ["KelvinK", "İstanbul", "Kİ"]
    )
    files = []
    for i in range(30):
        if i % 10 == 9:
            text = "" if i % 20 == 9 else " \t \n  \n"
        else:
            lines = []
            for _ in range(rng.randint(1, 8)):
                lines.append(" ".join(rng.choice(pool) for _ in range(rng.randint(0, 12))))
            text = "\n".join(lines) + ("\n" if rng.random() < 0.8 else "")
        # URI-hostile + unicode filenames flow through the whole stack:
        # the reference fopens raw bytes; the engine recovers doc ids by
        # URL-decoding input_file_name() against the manifest
        name = {7: "ünïcödé doc 7.txt", 13: "pct%20+plus 13.txt"}.get(
            i, f"rnd{i}.txt"
        )
        p = tmp_path / name
        p.write_text(text, encoding="utf-8")
        files.append(str(p))
    manifest = tmp_path / "manifest.txt"
    manifest.write_text(f"{len(files)}\n" + "\n".join(files) + "\n")

    ref_bin = str(tmp_path / "ref_bin")
    subprocess.run(
        ["g++", "-O2", "-pthread", "-o", ref_bin, "/root/reference/main.c++"],
        check=True,
    )
    ref_out = tmp_path / "ref_out"
    ref_out.mkdir()
    subprocess.run([ref_bin, "4", "4", str(manifest)], cwd=ref_out, check=True)

    from inverted_index_using_the_map_reduce_paradigm_spark.__main__ import main

    eng_out = tmp_path / "eng_out"
    assert main(["4", "4", str(manifest), str(eng_out)]) == 0
    # and the default line-mode EXPRESSION pipeline must match too
    # (regression pin for the lone-\r row split: lineSep must be \n
    # exactly like getline, so a mid-token CR joins its fragments)
    expr_out = tmp_path / "expr_out2"
    write_letter_index(
        formatted_index(read_corpus(spark, str(manifest))), str(expr_out)
    )
    collect_reference_layout(str(expr_out))
    for c in string.ascii_lowercase:
        a = (ref_out / f"{c}.txt").read_bytes()
        for out in (eng_out, expr_out):
            b = (out / f"{c}.txt").read_bytes()
            assert a == b, f"{c} [{out.name}]: ref={a[:200]!r} eng={b[:200]!r}"


def test_read_corpus_auto_splits_big_files_same_result(spark, tmp_path, monkeypatch):
    """wholetext='auto' (r7) must route oversized files through the
    splittable line scan and everything else through wholetext, with a
    byte-identical index downstream — here with the threshold shrunk so
    one 'giant' file actually takes the line path, checked against the
    pure-wholetext and pure-line reads of the same corpus."""
    from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import (
        formatted_index,
    )
    from inverted_index_using_the_map_reduce_paradigm_spark.sources import manifest as m

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "small1.txt").write_text("alpha beta\ngamma\n")
    (d / "small2.txt").write_text("beta delta\n")
    (d / "giant.txt").write_text("alpha zulu\n" * 500)  # > 1 KiB
    paths = [str(d / "giant.txt"), str(d / "small1.txt"), str(d / "small2.txt")]
    mf = tmp_path / "manifest.txt"
    mf.write_text(f"{len(paths)}\n" + "\n".join(paths) + "\n")

    monkeypatch.setattr(m, "WHOLETEXT_MAX_BYTES", 1024)
    auto = m.read_corpus(spark, str(mf), validate=True, wholetext="auto")
    # the giant file really is line-split: >1 row for doc 1
    assert auto.filter("doc_id = 1").count() == 500
    whole = m.read_corpus(spark, str(mf), validate=True, wholetext=True)
    line = m.read_corpus(spark, str(mf), validate=True)

    def idx(docs):
        return {
            tuple(r)
            for r in formatted_index(docs, arrow_tokenizer=True)
            .select("word", "line")
            .collect()
        }

    assert idx(auto) == idx(whole) == idx(line)


def test_read_corpus_doc_level_reglues_auto_split(spark, tmp_path, monkeypatch):
    """doc_level=True (r9): the auto-split's line fragments of an
    oversized doc must re-glue to the EXACT bytes the pure wholetext
    read yields — offset order across Hadoop splits, interior empty
    lines, and the trailing-newline probe (one file ends with \\n, one
    does not)."""
    from inverted_index_using_the_map_reduce_paradigm_spark.sources import manifest as m

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "small.txt").write_text("alpha beta\ngamma\n")
    # two oversized files, distinct line lengths so any resequencing
    # shows up; big2 has interior blank lines and NO trailing newline
    (d / "big1.txt").write_text(
        "".join(f"line {i} " + "x" * (i % 37) + "\n" for i in range(400))
    )
    (d / "big2.txt").write_text(
        "".join(f"row {i}\n\n" for i in range(300)) + "tail-no-newline"
    )
    paths = [str(d / "big1.txt"), str(d / "big2.txt"), str(d / "small.txt")]
    mf = tmp_path / "manifest.txt"
    mf.write_text(f"{len(paths)}\n" + "\n".join(paths) + "\n")

    monkeypatch.setattr(m, "WHOLETEXT_MAX_BYTES", 1024)
    # force multiple Hadoop splits per big file so the re-glue really
    # crosses split boundaries
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try:
        glued = m.read_corpus(
            spark, str(mf), validate=True, wholetext="auto", doc_level=True
        )
        whole = m.read_corpus(spark, str(mf), validate=True, wholetext=True)
        got = {r.doc_id: r.text for r in glued.collect()}
        want = {r.doc_id: r.text for r in whole.collect()}
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert set(got) == {1, 2, 3}
    assert got == want  # byte-identical, trailing newline included
    # exactly one row per doc — the doc-level contract
    assert glued.groupBy("doc_id").count().filter("count > 1").count() == 0
    # and the guard: doc_level without the auto split is a misuse
    import pytest as _pytest

    with _pytest.raises(ValueError):
        m.read_corpus(spark, str(mf), wholetext=True, doc_level=True)


@pytest.mark.slow
def test_read_corpus_doc_level_full_size_doc(spark, tmp_path):
    """The r8 VERDICT's literal done-bar: a document over the REAL
    256 MiB threshold (no monkeypatch) through a doc-level consumer —
    length and sha256 must match the pure-wholetext read."""
    from pyspark.sql import functions as F

    from inverted_index_using_the_map_reduce_paradigm_spark.sources import manifest as m

    d = tmp_path / "corpus"
    d.mkdir()
    block = ("lorem ipsum dolor sit amet " * 37 + "\n").encode()  # ~1 KiB
    big = d / "big.txt"
    with open(big, "wb") as f:
        for _ in range(270 * 1024):  # ~270 MiB > WHOLETEXT_MAX_BYTES
            f.write(block)
    (d / "small.txt").write_text("alpha beta\n")
    paths = [str(big), str(d / "small.txt")]
    mf = tmp_path / "manifest.txt"
    mf.write_text(f"{len(paths)}\n" + "\n".join(paths) + "\n")

    def digest(docs):
        return {
            (r.doc_id, r.n, r.sha)
            for r in docs.select(
                "doc_id",
                F.length("text").alias("n"),
                F.sha2("text", 256).alias("sha"),
            ).collect()
        }

    glued = m.read_corpus(spark, str(mf), wholetext="auto", doc_level=True)
    whole = m.read_corpus(spark, str(mf), wholetext=True)
    assert digest(glued) == digest(whole)
