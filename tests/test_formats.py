"""Round-trip and contract tests for the uniform format surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from inverted_index_using_the_map_reduce_paradigm_spark.data import table
from inverted_index_using_the_map_reduce_paradigm_spark.sources.formats import (
    read_table,
    write_table,
)

SF = "/root/testdata/sf0.001"

NATION_SCHEMA = "n_nationkey int, n_name string, n_regionkey int"


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_round_trip_preserves_rows(spark, tmp_path, fmt):
    src = table(spark, SF, "nation").select("n_nationkey", "n_name", "n_regionkey")
    out = str(tmp_path / fmt)
    write_table(src, out, fmt=fmt)
    back = read_table(
        spark, out, fmt=fmt,
        schema=None if fmt in ("parquet", "orc") else NATION_SCHEMA,
    )
    assert sorted(back.collect()) == sorted(src.collect())
    assert back.schema == src.schema


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    src = table(spark, SF, "orders").select("o_orderkey", "o_orderstatus")
    out = str(tmp_path / "orders_p")
    write_table(src, out, partition_by=["o_orderstatus"])
    got = read_table(spark, out).filter(F.col("o_orderstatus") == "O")
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the status predicate must be a partition filter, not a data filter
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    assert got.count() == src.filter(F.col("o_orderstatus") == "O").count()


def test_csv_without_schema_is_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit schema"):
        read_table(spark, str(tmp_path / "x"), fmt="csv")


def test_csv_failfast_rejects_malformed(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\nnot_an_int,3\n")
    df = read_table(spark, str(p), fmt="csv", schema="a int, b int")
    with pytest.raises(Exception, match="FAILFAST|Malformed|MALFORMED"):
        df.collect()


def test_gzip_warns_unsplittable(spark, tmp_path):
    import gzip
    import warnings as w

    p = tmp_path / "one.json.gz"
    with gzip.open(p, "wt") as f:
        f.write('{"a": 1}\n')
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        df = read_table(spark, str(p), fmt="json", schema="a int")
        assert any("not splittable" in str(c.message) for c in caught)
    assert df.collect()[0].a == 1


def test_canon_casts_repair_drifted_fixture_types(spark, tmp_path):
    """A future fixture regeneration may flip physical types (it turned
    events.ts from TIMESTAMP(NANOS) into TIMESTAMP(MICROS) once); the
    loader must deliver canonical engine types either way."""
    import datetime

    from inverted_index_using_the_map_reduce_paradigm_spark.data import table

    spark.createDataFrame(
        [(1, 11, "O", 100.0, datetime.date(1995, 3, 15), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    got = table(spark, str(tmp_path), "orders")
    assert got.schema["o_orderdate"].dataType.simpleString() == "timestamp"
    row = got.collect()[0]
    assert row.o_orderdate == datetime.datetime(1995, 3, 15, 0, 0)


def test_range_layout_files_have_disjoint_key_ranges(spark, tmp_path):
    """write_range_layout must produce parquet files whose min-max key
    stats are pairwise disjoint — the property that lets a pushed
    predicate skip whole files at scale."""
    import glob

    import pyarrow.parquet as pq

    from inverted_index_using_the_map_reduce_paradigm_spark.data import table
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.sinks import (
        write_range_layout,
    )

    ev = table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "value"
    )
    out = str(tmp_path / "events_by_id")
    write_range_layout(ev, out, "event_id", n_files=4)

    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "event_id"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2  # the range partitioner actually split
    for (lo_a, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, f"overlapping file ranges: {ranges}"
    # row preservation
    assert spark.read.parquet(out).count() == ev.count()


def test_zorder_layout_shrinks_file_ranges_on_every_dimension(spark, tmp_path):
    """Z-ordering on (user_id, value) must give BOTH columns usable
    per-file min-max stats, where the single-column sort gives the
    secondary column none (every file spans its full range)."""
    import glob

    import pyarrow.parquet as pq

    from inverted_index_using_the_map_reduce_paradigm_spark.data import table
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.sinks import (
        write_range_layout,
        write_zorder_layout,
    )

    ev = table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value"
    )

    def avg_coverage(path: str, col_name: str) -> float:
        """Mean fraction of the column's global range a file spans."""
        spans, glo, ghi = [], None, None
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col_name
                )
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            spans.append((min(mins), max(maxs)))
            glo = min(glo, *mins) if glo is not None else min(mins)
            ghi = max(ghi, *maxs) if ghi is not None else max(maxs)
        width = ghi - glo
        return sum((hi - lo) / width for lo, hi in spans) / len(spans)

    z_out = str(tmp_path / "z")
    write_zorder_layout(ev, z_out, ["user_id", "value"], n_files=8)
    s_out = str(tmp_path / "s")
    write_range_layout(ev, s_out, "value", n_files=8)

    # single sort: value files are tight, user_id files are useless
    assert avg_coverage(s_out, "value") < 0.3
    assert avg_coverage(s_out, "user_id") > 0.8
    # z-order: BOTH dimensions shrink enough to skip files
    assert avg_coverage(z_out, "user_id") < 0.6
    assert avg_coverage(z_out, "value") < 0.6
    assert spark.read.parquet(z_out).count() == ev.count()


def test_avro_roundtrip(spark, tmp_path):
    """Avro rides the same read/write_table wrapper as ORC.  The
    spark-avro module is EXTERNAL and this sandbox has no network to
    fetch the jar; since r12 the wrapper transparently routes the
    format through the pure-Python OCF DataSource
    (sources/avro_source.py), so the roundtrip runs everywhere — via
    the JVM module when deployed, via the fallback here."""
    from inverted_index_using_the_map_reduce_paradigm_spark.data import table
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.formats import (
        avro_available,
        read_table,
        write_table,
    )

    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "n_chars", "lang"
    )
    out = str(tmp_path / "avro")
    kw = {"partition_by": ["lang"]} if avro_available(spark) else {}
    write_table(docs, out, "avro", **kw)
    back = read_table(spark, out, "avro")
    assert back.schema.simpleString() == (
        "struct<doc_id:bigint,source:string,n_chars:bigint,lang:string>"
    )
    want = {tuple(r) for r in docs.collect()}
    got = {tuple(r) for r in back.select("doc_id", "source", "n_chars", "lang").collect()}
    assert got == want


def test_avro_range_splits_are_lossless_and_disjoint(spark, tmp_path):
    """The 100 TB posture of the Avro source: byte-range splits within
    one container file must recover EVERY record exactly once at any
    split size (sync-marker resync + blocks-that-begin-in-range
    ownership), and the Spark reader must actually fan a large file
    out across multiple partitions via .option('split_mib', ...)."""
    import json
    import os

    from inverted_index_using_the_map_reduce_paradigm_spark.sources.avro_source import (
        AvroDataSource,
        read_header,
        read_range,
        write_container,
    )

    sch = json.dumps(
        {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "i", "type": "long"},
                {"name": "s", "type": "string"},
            ],
        }
    )
    rows = [(i, f"row-{i}-" + "x" * 50) for i in range(5000)]
    p = str(tmp_path / "big.avro")
    write_container(p, sch, iter(rows), block_bytes=1024)
    size = os.path.getsize(p)
    _s, _c, _sync, first = read_header(p)

    # pure range grid at awkward sizes (never aligned to blocks)
    for split in (777, 4096, size):
        got = []
        lo, k = first, 0
        while lo < size:
            hi = min(lo + split, size)
            got.extend(read_range(p, None if k == 0 else lo, hi))
            lo, k = hi, k + 1
        assert sorted(got) == sorted(rows), split

    # Spark-level: tiny split_mib -> many partitions, same rows
    spark.dataSource.register(AvroDataSource)
    df = (
        spark.read.format("avro_py")
        .option("path", str(tmp_path))
        .option("split_mib", str(2048 / (1 << 20)))  # 2 KiB ranges
        .load()
    )
    assert df.rdd.getNumPartitions() > 4
    assert sorted(tuple(r) for r in df.collect()) == sorted(rows)


def test_avro_range_splits_on_large_container(spark, tmp_path):
    """The suite-sized twin of scripts/avro_scale.py (which validated
    the same invariants at 4 GiB — SCALE.md r13): a ~96 MiB single
    container with MiB-scale rows must fan out to ~size/split_mib
    partitions, and the split scan must agree with the whole-file
    single-partition scan on a value-sensitive aggregate (count +
    sum + xor-of-row-hashes), which a lost, duplicated, or
    mis-resynced block cannot pass.  Also pins the incremental header
    parse: planning reads headers per split without slurping the
    container (a full-file read here would be ~1.3 GiB of redundant
    I/O across 13 splits)."""
    import json
    import os

    from pyspark.sql import functions as F

    from inverted_index_using_the_map_reduce_paradigm_spark.sources.avro_source import (
        AvroDataSource,
        write_container,
    )

    n_rows, row_bytes = 96, 1 << 20
    sch = json.dumps(
        {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "i", "type": "long"},
                {"name": "payload", "type": "bytes"},
            ],
        }
    )
    p = str(tmp_path / "large.avro")
    write_container(
        p,
        sch,
        ((i, bytes([i % 256, (i >> 8) % 256]) * (row_bytes // 2)) for i in range(n_rows)),
        codec="null",
    )
    size = os.path.getsize(p)
    assert size >= n_rows * row_bytes  # ~96 MiB on disk

    spark.dataSource.register(AvroDataSource)

    def scan(split_mib: float):
        df = (
            spark.read.format("avro_py")
            .option("path", str(tmp_path))
            .option("split_mib", str(split_mib))
            .load()
        )
        agg = df.agg(
            F.count("*").alias("n"),
            F.sum("i").alias("si"),
            F.bit_xor(F.xxhash64("i", "payload")).alias("sh"),
        ).collect()[0]
        return df.rdd.getNumPartitions(), (agg.n, agg.si, agg.sh)

    parts_split, agg_split = scan(8)
    parts_whole, agg_whole = scan(size / (1 << 20) + 8)
    assert parts_whole == 1
    expected = size // (8 << 20) + 1
    assert abs(parts_split - expected) <= 1, (parts_split, expected)
    assert agg_split == agg_whole
    assert agg_split[0] == n_rows


def test_avro_python_source_matches_canonical_library(spark, tmp_path):
    """Spec fidelity of the pure-Python OCF codec is FALSIFIABLE even
    without spark-avro: Spark bundles the canonical org.apache.avro
    Java library, so (a) files written by the Python writer must read
    back identically through the JVM reference reader — deflate codec,
    sync markers, zigzag varints and all — and (b) a container written
    by the JVM reference writer must read back identically through the
    Python reader.  A drifted encoder would break (a); a drifted
    decoder would break (b)."""
    import glob

    from inverted_index_using_the_map_reduce_paradigm_spark.data import table
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.avro_source import (
        read_container,
        schema_to_avro_json,
        write_container,
    )
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.formats import (
        write_table,
    )

    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "n_chars", "lang"
    )
    out = str(tmp_path / "avro")
    write_table(docs, out, "avro")
    jvm = spark._jvm
    ref_rows = set()
    files = sorted(glob.glob(f"{out}/*.avro"))
    assert files
    for f in files:
        dr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(f), jvm.org.apache.avro.generic.GenericDatumReader()
        )
        while dr.hasNext():
            rec = dr.next()
            ref_rows.add(
                (
                    rec.get("doc_id"),
                    str(rec.get("source")),
                    rec.get("n_chars"),
                    str(rec.get("lang")),
                )
            )
        dr.close()
    assert ref_rows == {tuple(r) for r in docs.collect()}

    # (b) canonical writer -> python reader
    schema_json = schema_to_avro_json(docs.schema)
    jschema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    jfile = str(tmp_path / "jvm.avro")
    wr = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    wr.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    wr.create(jschema, jvm.java.io.File(jfile))
    # values above 2^31 so py4j ships them as java.lang.Long (small
    # ints become Integer, which the ["null","long"] union rejects)
    sample = [(2**40 + 7, "src1", 2**33 + 21, "en"), (None, "src2", None, "de")]
    for a, b, c, d in sample:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("doc_id", a)
        rec.put("source", b)
        rec.put("n_chars", c)
        rec.put("lang", d)
        wr.append(rec)
    wr.close()
    assert sorted(read_container(jfile), key=repr) == sorted(sample, key=repr)


# --------------------------------------------------------------------------
# r10: the WARC Python DataSource
# --------------------------------------------------------------------------


def test_warc_datasource_partitions_per_archive(spark, tmp_path):
    """Split model: small shards plan ONE InputPartition per
    .warc.gz file (the openCost floor keeps many-small-files at the
    FileScan model), while forced byte-range splits resync on gzip
    member boundaries and recover the IDENTICAL record set — so a
    directory of few large archives fans out past the file count.  A
    shard with a corrupted member still fails loud through the CRC
    check (zlib trailer verification), also when it is the first
    member of a byte range."""
    import glob
    import os

    from inverted_index_using_the_map_reduce_paradigm_spark.sources.warc_source import (
        N_SHARDS,
        WarcDataSource,
        WarcReader,
        build_warc_shards,
    )

    sf = "/root/testdata/sf0.001"
    out = build_warc_shards(sf, str(tmp_path / "warc"))
    files = sorted(glob.glob(os.path.join(out, "*.warc.gz")))
    assert len(files) == N_SHARDS
    reader = WarcReader({"path": out})
    parts = reader.partitions()
    assert len(parts) == N_SHARDS  # small files: one split per archive
    rows = [r for p in parts for r in reader.read(p)]
    assert len(rows) == 500  # one response record per document
    assert all(r[1] % N_SHARDS == int(r[0].split("-")[1].split(".")[0]) for r in rows)

    # byte-range splits: force ~4 KiB ranges; the
    # resync walk must plan MORE partitions than files and yield the
    # exact same rows, each exactly once
    forced = WarcReader(
        {"path": out, "split_mib": str(4096 / (1 << 20)), "min_partitions": "64"}
    )
    fparts = forced.partitions()
    assert len(fparts) > N_SHARDS
    frows = [r for p in fparts for r in forced.read(p)]
    assert sorted(frows) == sorted(rows)

    spark.dataSource.register(WarcDataSource)
    df = spark.read.format("warc").option("path", out).load()
    assert df.rdd.getNumPartitions() == N_SHARDS
    assert df.count() == 500

    # corrupt one member's body: the CRC check must object
    p0 = files[0]
    blob = bytearray(open(p0, "rb").read())
    blob[len(blob) // 2] ^= 0xFF
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    open(os.path.join(bad, "shard-0.warc.gz"), "wb").write(bytes(blob))
    import pytest as _pytest

    with _pytest.raises(Exception):
        list(WarcReader({"path": bad}).read(WarcReader({"path": bad}).partitions()[0]))

    # a corrupt member that is the first to start in a forced ~4 KiB
    # range must fail loud too, not pass for a false magic hit at the
    # resync (its records would vanish from every range)
    import zlib

    blob = bytearray(open(p0, "rb").read())
    starts, at = [], 0
    while at < len(blob):
        starts.append(at)
        d = zlib.decompressobj(wbits=31)
        d.decompress(bytes(blob[at:]))
        at = len(blob) - len(d.unused_data)
    first, nxt = next(
        (s, n)
        for prev, s, n in zip(starts, starts[1:], starts[2:])
        if s // 4096 > prev // 4096 and s % 4096
    )
    blob[(first + nxt) // 2] ^= 0xFF
    bad_range = str(tmp_path / "bad_range")
    os.makedirs(bad_range)
    open(os.path.join(bad_range, "shard-0.warc.gz"), "wb").write(bytes(blob))
    forced_bad = WarcReader(
        {"path": bad_range, "split_mib": str(4096 / (1 << 20)), "min_partitions": "64"}
    )
    franges = forced_bad.partitions()
    assert any(p.start == first // 4096 * 4096 for p in franges)
    with _pytest.raises(ValueError, match=f"corrupt gzip member at offset {first}"):
        for p in franges:
            list(forced_bad.read(p))


def test_warc_stream_source_is_exactly_once_across_arrivals(spark, tmp_path):
    """The streaming WARC source must ingest each shard exactly once as
    files arrive: 3 shards in batch 1, the remaining 5 in batch 2, no
    replays, and the union equals the batch scan."""
    import glob
    import os
    import shutil

    from inverted_index_using_the_map_reduce_paradigm_spark.sources.warc_source import (
        WarcDataSource,
        build_warc_shards,
    )

    staged = build_warc_shards("/root/testdata/sf0.001", str(tmp_path / "staged"))
    src = tmp_path / "arriving"
    src.mkdir()
    files = sorted(glob.glob(os.path.join(staged, "*.warc.gz")))
    for f in files[:3]:
        shutil.copy(f, src)
    spark.dataSource.register(WarcDataSource)
    stream = spark.readStream.format("warc").option("path", str(src)).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("warc_arrivals")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.table("warc_arrivals").count()
        for f in files[3:]:
            shutil.copy(f, src)
        q.processAllAvailable()
        rows = spark.table("warc_arrivals").collect()
        batches = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert n1 < 500 and len(rows) == 500
    # exactly-once is the SUM and the distinct set, not the trigger
    # count: the 5 late shards may legitimately span two triggers when
    # the copy loop races the source's listing poll (observed flake
    # under load), so pin >= 2 arrivals instead of exactly 2
    assert sum(batches) == 500 and len(batches) >= 2
    assert len({r.doc_id for r in rows}) == 500  # no shard replayed


def test_warc_stream_writer_roundtrips_through_the_reader(spark, tmp_path):
    """writeStream.format('warc') must produce shards + a per-batch
    manifest that the batch reader recovers byte-exactly: every doc_id
    once, payload hashes matching sha256(text)."""
    import hashlib
    import os

    from inverted_index_using_the_map_reduce_paradigm_spark.sources.warc_source import (
        WarcDataSource,
    )

    spark.dataSource.register(WarcDataSource)
    out = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    docs = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet("/root/testdata/sf0.001")
        .select("doc_id", "text")
    )
    q = (
        docs.writeStream.format("warc")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    files = sorted(os.listdir(out))
    shards = [f for f in files if f.endswith(".warc.gz")]
    manifests = [f for f in files if f.startswith("_manifest-")]
    assert shards and manifests == ["_manifest-0"]
    # the manifest lists exactly the committed shards
    listed = sorted(open(os.path.join(out, "_manifest-0")).read().split())
    assert listed == shards
    back = spark.read.format("warc").option("path", out).load().collect()
    assert len(back) == 500
    src = {
        r.doc_id: r.text
        for r in spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    for r in back:
        assert r.payload_sha == hashlib.sha256(src[r.doc_id].encode()).hexdigest()
