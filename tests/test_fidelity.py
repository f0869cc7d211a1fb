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
    collect_reference_layout(out)

    files = sorted(os.listdir(out))
    assert [f for f in files if not f.startswith(("_", "."))] == [
        f"{c}.txt" for c in string.ascii_lowercase
    ]

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
    mapInPandas batch boundaries.  Also pins the one-letter-one-part
    invariant collect_reference_layout's glob-sort relies on."""
    import glob as globmod

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

    # invariant behind collect_reference_layout's glob sort: the sink
    # writes each letter as exactly ONE part file (one partition per
    # letter), so byte order can't depend on part-file name order
    for out in (flat_out, seg_out):
        for d in globmod.glob(os.path.join(out, "letter=*")):
            parts = [p for p in os.listdir(d) if p.startswith("part-")]
            assert len(parts) == 1, (d, parts)

    collect_reference_layout(flat_out)
    collect_reference_layout(seg_out)
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


def test_reference_layout_refuses_multi_part_letters(tmp_path):
    """collect_reference_layout concatenates part files in NAME order,
    which equals row order only because each letter is written by one
    task (repartition('letter')).  The flattener must refuse a letter
    directory holding several part files rather than silently gluing
    them in an order nobody guaranteed (VERDICT r3 item 8)."""
    import pytest

    out = tmp_path / "out"
    good = out / "letter=a"
    good.mkdir(parents=True)
    (good / "part-00000").write_text("alpha:[1]\n")
    bad = out / "letter=b"
    bad.mkdir()
    (bad / "part-00000").write_text("beta:[2]\n")
    (bad / "part-00001").write_text("bat:[1 2]\n")

    with pytest.raises(ValueError, match="letter=b produced 2 part files"):
        collect_reference_layout(str(out))


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
