"""Source/sink coverage (SURVEY.md §2.1): empty relation with copied
schema (S6), explicit-schema CSV reads, parquet round-trip fidelity."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from spark_ml_showcase_spark.sources import io


def test_empty_relation_with_copied_schema(spark):
    # S6 (Claims_Prediction.py:44-45): the stratified-split accumulator seed
    src = spark.createDataFrame([(1, "a", 2.0)], "k bigint, s string, v double")
    empty = spark.createDataFrame([], src.schema)
    assert empty.count() == 0
    assert empty.schema == src.schema
    assert empty.unionAll(src).count() == 1  # U1 positional union


def test_read_csv_explicit_schema_skips_inference(spark, tmp_path):
    p = str(tmp_path / "x.csv")
    with open(p, "w") as f:
        f.write("1,2.5\n2,3.5\n")
    df = io.read_csv(spark, p, schema="a int, b double")
    assert df.dtypes == [("a", "int"), ("b", "double")]
    assert df.agg(F.sum("b")).first()[0] == 6.0
    # no schema, no infer → all strings (the reference's read pattern)
    raw = io.read_csv(spark, p)
    assert all(t == "string" for _, t in raw.dtypes)


def test_write_report_txt_and_csv(spark, tmp_path):
    df = spark.createDataFrame(
        [("de", 10, 'quo"te'), ("ca", 2, "with,comma"), ("sg", 1, None)],
        "country string, n bigint, note string",
    ).orderBy("country")
    txt = io.write_report(df, str(tmp_path / "r.txt"), fmt="txt")
    lines = open(txt).read().splitlines()
    assert lines[0].split() == ["country", "n", "note"]
    assert lines[1].startswith("---")
    assert len(lines) == 5 and lines[2].split()[0] == "ca"

    csv = io.write_report(df, str(tmp_path / "r.csv"), fmt="csv")
    back = io.read_csv(
        spark, csv, header=True,
        schema="country string, n bigint, note string", escape='"',
    )
    assert {(r.country, r.n, r.note) for r in back.collect()} == {
        ("de", 10, 'quo"te'),
        ("ca", 2, "with,comma"),
        ("sg", 1, None),
    }

    import pytest as _pytest

    with _pytest.raises(ValueError):
        io.write_report(df, str(tmp_path / "r.json"), fmt="json")


def test_write_parquet_partition_by(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "x")], "k bigint, part string"
    )
    out = str(tmp_path / "pq")
    io.write_parquet(df, out, partition_by=["part"])
    # hive-style layout → downstream partition pruning
    assert sorted(
        d for d in os.listdir(out) if d.startswith("part=")
    ) == ["part=x", "part=y"]
    back = io.read_parquet(spark, out)
    assert back.count() == 3
    pruned = back.filter(F.col("part") == "x")
    assert pruned.count() == 2


def test_orc_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(100)],
        "k bigint, cat string, v double",
    )
    out = str(tmp_path / "orc")
    io.write_orc(df, out)
    back = io.read_orc(spark, out)
    assert back.count() == 100
    assert dict(back.dtypes) == dict(df.dtypes)
    # column-pruned read
    pruned = io.read_orc(spark, out, "k", "v")
    assert pruned.columns == ["k", "v"]
    assert back.agg(F.sum("v")).first()[0] == sum(range(100))


def test_catalog_events_ts_adapts_to_both_fixture_generations(spark, tmp_path):
    """The fixture generator has shipped events.ts as TIMESTAMP(NANOS)
    (read as raw long under nanosAsLong) and as naive timestamp[us]
    (TIMESTAMP_NTZ). Catalog.table must normalize BOTH to the same
    session-UTC instants — epoch seconds are what every oracle compares.
    Each generation is read twice: the second read takes its schema from
    the loader's memo, and must adapt the same way."""
    import datetime as dt
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from spark_ml_showcase_spark.sources.catalog import Catalog

    base = dt.datetime(2024, 5, 1, 8, 30, 0)
    instants = [base + dt.timedelta(hours=i) for i in range(4)]
    cols = {
        "event_id": pa.array(range(4), pa.int64()),
        "user_id": pa.array([1, 2, 1, 2], pa.int64()),
        "event_type": pa.array(["a", "b", "a", "b"]),
        "value": pa.array([1.0, 2.0, 3.0, 4.0], pa.float64()),
        "props": pa.array(["{}"] * 4),
    }
    want = {int(t.replace(tzinfo=dt.timezone.utc).timestamp()) for t in instants}

    got = {}
    for unit in ("us", "ns"):
        d = os.path.join(str(tmp_path), f"gen_{unit}")
        os.makedirs(d)
        ts = pa.array(instants, pa.timestamp(unit))
        table = pa.table({**cols, "ts": ts})
        pq.write_table(table, os.path.join(d, "events.parquet"))
        for read in ("infer", "memo"):
            ev = Catalog(spark, d).events
            assert str(ev.schema["ts"].dataType) == "TimestampType()"
            got[unit, read] = {
                r.s
                for r in ev.select(F.col("ts").cast("long").alias("s")).collect()
            }
        shutil.rmtree(d)
    assert len(got) == 4 and all(v == want for v in got.values())


def test_compact_parquet_dir(spark, tmp_path):
    from spark_ml_showcase_spark.sources.io import compact_parquet_dir

    d = os.path.join(str(tmp_path), "many")
    # 12 tiny appended files, the append-only-sink pathology
    for i in range(12):
        spark.createDataFrame(
            [(i * 10 + j, f"v{i}_{j}") for j in range(10)], "k bigint, v string"
        ).coalesce(1).write.mode("append").parquet(d)
    n_before = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    assert n_before == 12
    before = {(r.k, r.v) for r in spark.read.parquet(d).collect()}

    n_after = compact_parquet_dir(spark, d, target_file_mb=128, sort_by=["k"])
    assert n_after == 1
    after = {(r.k, r.v) for r in spark.read.parquet(d).collect()}
    assert after == before and len(after) == 120
    assert not os.path.exists(d + ".old") and not os.path.exists(d + ".compacting")


def test_python_datasource_generates_on_executors(spark):
    from spark_ml_showcase_spark.sources.pydatasource import read_synth_docs

    df = read_synth_docs(spark, n=1000, partitions=4, sources=5)
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1000
    rows = {r.doc_id: r for r in df.collect()}
    # closed-form determinism, spot-checked
    assert rows[0].source == "src0" and rows[0].n_tokens == 20
    assert rows[123].source == f"src{123 % 5}"
    assert rows[123].n_tokens == 20 + (123 * 37) % 200
    assert rows[999].quality_centi == (999 * 7919) % 101
    # re-read is identical (no RNG state anywhere)
    again = {r.doc_id: r.n_tokens for r in read_synth_docs(
        spark, n=1000, partitions=2, sources=5).collect()}
    assert again == {k: v.n_tokens for k, v in rows.items()}


def test_python_datasource_stream_batches(spark):
    """Streaming half of the synthdocs source: micro-batches of
    rowsPerBatch rows, exhausting at n, aggregating to the exact same
    totals as the batch reader (deterministic replayable offsets)."""
    import time
    import uuid

    from spark_ml_showcase_spark.sources.pydatasource import register

    register(spark)
    stream = (
        spark.readStream.format("synthdocs")
        .option("n", "2000")
        .option("rowsPerBatch", "500")
        .option("sources", "4")
        .load()
    )
    agg = stream.groupBy("source").count()
    name = f"pyds_{uuid.uuid4().hex[:8]}"
    # continuous micro-batch trigger: availableNow would stop after the
    # single prefetched batch of a SimpleDataSourceStreamReader — the
    # point here is that the source feeds MULTIPLE batches (2000/500=4)
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            rows = spark.table(name).collect()
            if sum(r["count"] for r in rows) >= 2000:
                break
            time.sleep(1)
        got = {r.source: r["count"] for r in spark.table(name).collect()}
    finally:
        q.stop()
    assert got == {f"src{i}": 500 for i in range(4)}


def test_jsonl_shard_writer_with_manifest(spark, tmp_path):
    import json

    from spark_ml_showcase_spark.sources.pydatasource import write_jsonl_shards

    df = spark.createDataFrame(
        [(i, f"text {i}", i % 3) for i in range(100)],
        "doc_id bigint, text string, bucket bigint",
    )
    out = os.path.join(str(tmp_path), "export")
    write_jsonl_shards(df, out, shards=4)

    manifest = json.load(open(os.path.join(out, "MANIFEST.json")))
    assert manifest["total_rows"] == 100
    assert len(manifest["shards"]) == 4
    # shard tallies agree with the files themselves; rows roundtrip
    seen = []
    for s in manifest["shards"]:
        lines = open(os.path.join(out, s["shard"])).read().splitlines()
        assert len(lines) == s["n_rows"]
        assert sum(len(l) + 1 for l in lines) == s["n_bytes"]
        seen += [json.loads(l) for l in lines]
    assert {r["doc_id"] for r in seen} == set(range(100))
    assert all(r["text"] == f"text {r['doc_id']}" for r in seen)


def test_read_parquet_ignore_corrupt_files(spark, tmp_path):
    """One garbage file among good parquet: the default read fails
    loudly; ignore_corrupt=True survives with exactly the good rows."""
    import pytest

    d = os.path.join(str(tmp_path), "lake")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k bigint, v string"
    ).coalesce(1).write.parquet(d)
    with open(os.path.join(d, "part-corrupt.parquet"), "wb") as f:
        f.write(b"PAR1 this is not actually parquet \x00\x01\x02")

    with pytest.raises(Exception):
        io.read_parquet(spark, d).count()
    ok = io.read_parquet(spark, d, ignore_corrupt=True)
    assert sorted(r.k for r in ok.collect()) == list(range(20))


def test_jsonl_shard_writer_serializes_rich_types(spark, tmp_path):
    """Timestamps/dates/decimals/binary export as ISO/str/base64 instead
    of crashing the writer — the events fixture shape must be exportable."""
    import json

    from spark_ml_showcase_spark.sources.pydatasource import write_jsonl_shards

    df = spark.sql(
        "SELECT 1 AS id, TIMESTAMP'2024-01-02 03:04:05' AS ts, "
        "DATE'2024-01-02' AS d, CAST(1.50 AS DECIMAL(10,2)) AS m, "
        "X'DEAD' AS b"
    )
    out = os.path.join(str(tmp_path), "rich")
    write_jsonl_shards(df, out, shards=1)
    (line,) = open(os.path.join(out, "shard-00000.jsonl")).read().splitlines()
    row = json.loads(line)
    assert row["ts"].startswith("2024-01-02T03:04:05")
    assert row["d"] == "2024-01-02" and row["m"] == "1.50" and row["b"] == "3q0="


def test_compact_recovers_from_crashed_prior_run(spark, tmp_path):
    """A leftover .old/.compacting dir from a killed compaction must not
    wedge the next run."""
    from spark_ml_showcase_spark.sources.io import compact_parquet_dir

    d = os.path.join(str(tmp_path), "dir")
    spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string").coalesce(
        1
    ).write.parquet(d)
    os.makedirs(d + ".old")
    with open(os.path.join(d + ".old", "stale"), "w") as f:
        f.write("leftover from a crash")
    os.makedirs(d + ".compacting")
    assert compact_parquet_dir(spark, d) == 1
    assert {r.k for r in spark.read.parquet(d).collect()} == {1, 2}
    assert not os.path.exists(d + ".old")


def _is_schema_inference(stage_name: str) -> bool:
    return stage_name.startswith("parquet at ")


def test_read_parquet_second_read_runs_no_job(spark, tmp_path, stages_run_by):
    """The first read of a path infers its schema with a Spark job; the
    second takes the memoized schema and runs no job at all, with the
    same schema, nullability and field metadata included."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(str(tmp_path), "t.parquet")
    schema = pa.schema(
        [pa.field("k", pa.int64(), nullable=False), pa.field("v", pa.string())]
    )
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", None, "c"]}, schema), path)

    first, stages = stages_run_by(lambda: io.read_parquet(spark, path))
    assert any(_is_schema_inference(s) for s in stages)
    second, stages = stages_run_by(lambda: io.read_parquet(spark, path))
    assert stages == []
    # the JSON form carries every field's type, nullability and metadata
    assert second.schema.jsonValue() == first.schema.jsonValue()
    assert sorted(second.collect()) == sorted(first.collect())


def test_read_parquet_rewritten_path_infers_again(spark, tmp_path, stages_run_by):
    """A file rewritten at the same path with another schema changes its
    fingerprint: the next read infers again and sees the new columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(str(tmp_path), "t.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), path)
    assert io.read_parquet(spark, path).columns == ["k"]
    pq.write_table(
        pa.table({"k": pa.array([1.5], pa.float64()), "w": ["x"]}), path
    )
    df, stages = stages_run_by(lambda: io.read_parquet(spark, path))
    assert any(_is_schema_inference(s) for s in stages)
    assert df.dtypes == [("k", "double"), ("w", "string")]
    assert [tuple(r) for r in df.collect()] == [(1.5, "x")]


def _parquet_reader_calls(tree):
    """Yield ``(function name, line)`` of every ``.parquet(...)`` call on
    a batch reader: a receiver chain that passes through ``.read``
    (``spark.read.option(...).parquet(``, split over lines or not), or a
    local name bound to such a chain (``reader = spark.read``)."""
    import ast

    def chain(node):
        # attribute names along a receiver chain, and the Name at its root
        names = []
        while True:
            if isinstance(node, ast.Call):
                node = node.func
            elif isinstance(node, ast.Attribute):
                names.append(node.attr)
                node = node.value
            else:
                return names, node.id if isinstance(node, ast.Name) else None

    def is_reader(node, readers):
        names, root = chain(node)
        names.reverse()  # from the root outward
        if "read" in names:
            names = names[len(names) - names[::-1].index("read"):]
        elif root not in readers:
            return False
        return all(n in ("option", "options", "schema", "format") for n in names)

    funcs = [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    for fn in funcs:
        readers: set[str] = set()
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign) and is_reader(node.value, readers):
                readers |= {t.id for t in node.targets if isinstance(t, ast.Name)}
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and is_reader(node.func.value, readers)
            ):
                yield fn.name, node.lineno


#: reads that may call the parquet reader themselves: the loader, and a
#: snapshot read whose schema is a ``mergeSchema`` union over files
_OWN_PARQUET_READS = {
    ("sources/io.py", "read_parquet"),
    ("sources/versioned.py", "read_snapshot"),
}


def test_parquet_reader_lint_sees_chains_and_bound_readers():
    import ast
    import textwrap

    src = textwrap.dedent(
        """
        def f(spark, p):
            a = spark.read.parquet(p)
            b = spark.read.option("x", 1).parquet(p)
            c = (
                spark.read
                .option("x", 1)
                .parquet(p)
            )
            r = spark.read
            r = r.option("x", 1)
            d = r.parquet(p)
            spark.readStream.schema("k int").parquet(p)
            a.write.parquet(p)
            a.select("k").write.mode("overwrite").parquet(p)
            open(p).read()
        """
    )
    lines = [line for _, line in _parquet_reader_calls(ast.parse(src))]
    assert sorted(lines) == [3, 4, 6, 12]


def test_parquet_reads_go_through_the_loader():
    """``io.read_parquet`` is the engine's one parquet loader: outside it
    (and the allow-listed snapshot read) no function of the package calls
    ``.parquet(`` on a batch reader."""
    import ast

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark_ml_showcase_spark",
    )
    hits = []
    seen = set()
    for root, _, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            p = os.path.join(root, name)
            rel = os.path.relpath(p, pkg).replace(os.sep, "/")
            with open(p, encoding="utf-8") as f:
                tree = ast.parse(f.read(), p)
            for fn, line in _parquet_reader_calls(tree):
                if (rel, fn) in _OWN_PARQUET_READS:
                    seen.add((rel, fn))
                else:
                    hits.append(f"{rel}:{line} in {fn}")
    assert hits == []
    # a stale allow-list entry would hide nothing, but says something false
    assert seen == _OWN_PARQUET_READS
