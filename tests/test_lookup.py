"""Point lookups without Spark jobs: the driver-side bucket hash and the
Arrow read of the candidate files.

- ``buckethash`` must equal Spark's ``pmod(xxhash64(cols), n)`` for every
  placement type, or a lookup probes the wrong bucket and silently misses.
- ``lookup(*key)`` must equal ``read().where(<null-safe key equality>)``
  across MOR deltas, tombstones, null keys, schema evolution, prefix
  bucketing and rebuckets.
- ``lookup().collect()``, ``candidate_files`` and ``prefix_candidates``
  launch no Spark job.
"""

from __future__ import annotations

import datetime as dt
import decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake import buckethash
from etl_spark.lake.table import SnapshotTable

UTC = dt.timezone.utc


def _ascii(n: int, salt: int = 0) -> str:
    return "".join(chr(97 + (i * 7 + salt) % 26) for i in range(n))


# byte lengths 0..40 plus 63..65 cover the 4-, 8- and 32-byte XXH64 lanes;
# the multi-byte characters put unicode at those boundaries too
_STRINGS = (
    [_ascii(n) for n in range(41)] + [_ascii(n, 3) for n in (63, 64, 65)]
    + ["é" * k for k in (1, 2, 4, 16, 17)]
    + ["日本" * k for k in (1, 2, 6)]
    + ["😀" * k for k in (1, 2, 8, 9)]
    + ["aé日😀", "Ω" * 33, None]
)

SAMPLES: dict[str, tuple[T.DataType, list]] = {
    "string": (T.StringType(), _STRINGS),
    "binary": (
        T.BinaryType(),
        [bytes(range(n)) for n in range(41)] + [b"\xff" * 64, None],
    ),
    "boolean": (T.BooleanType(), [True, False, None]),
    "byte": (T.ByteType(), [-128, -1, 0, 1, 42, 127, None]),
    "short": (T.ShortType(), [-32768, -1, 0, 1, 300, 32767, None]),
    "int": (T.IntegerType(), [-(2**31), -1, 0, 1, 123, 2**31 - 1, None]),
    "bigint": (
        T.LongType(),
        [-(2**63), -1, 0, 1, 123, 2**31, 2**40 + 7, 2**63 - 1, None],
    ),
    "date": (
        T.DateType(),
        [dt.date(1970, 1, 1), dt.date(1969, 12, 31), dt.date(2024, 2, 29),
         dt.date(1, 1, 1), dt.date(9999, 12, 31), None],
    ),
    "timestamp": (
        T.TimestampType(),
        [dt.datetime(1970, 1, 1, tzinfo=UTC),
         dt.datetime(2024, 5, 6, 12, 34, 56, 789012, tzinfo=UTC),
         dt.datetime(1965, 3, 1, 0, 0, 0, 1, tzinfo=UTC), None],
    ),
}


@pytest.mark.parametrize("name", sorted(SAMPLES))
def test_bucket_hash_matches_spark_per_type(spark, name):
    dtype, values = SAMPLES[name]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)],
        T.StructType([T.StructField("i", T.IntegerType()),
                      T.StructField("c", dtype)]),
    )
    got = df.select(
        "i", F.xxhash64("c").alias("h"),
        F.pmod(F.xxhash64("c"), F.lit(32)).cast("int").alias("b"),
    ).collect()
    assert len(got) == len(values)
    for r in got:
        v = values[r["i"]]
        assert buckethash.xxhash64([v], [dtype]) == r["h"], (name, v)
        assert buckethash.bucket_of([v], [dtype], 32) == r["b"], (name, v)


def test_bucket_hash_chains_columns_like_spark(spark):
    """Multi-column keys: each column's hash seeds the next, null columns
    are skipped — checked against Spark on 4-column rows."""
    names = ["string", "bigint", "int", "date"]
    types = [SAMPLES[n][0] for n in names]
    cols = [SAMPLES[n][1] for n in names]
    rows = [
        tuple(col[(i * (j + 3)) % len(col)] for j, col in enumerate(cols))
        for i in range(120)
    ]
    schema = T.StructType(
        [T.StructField(f"c{j}", t) for j, t in enumerate(types)]
    )
    df = spark.createDataFrame(rows, schema)
    cs = [F.col(f"c{j}") for j in range(4)]
    got = df.select(
        *cs, F.xxhash64(*cs).alias("h"),
        *[F.pmod(F.xxhash64(*cs), F.lit(n)).cast("int").alias(f"b{n}")
          for n in (7, 16, 32)],
    ).collect()
    for r in got:
        key = [r[f"c{j}"] for j in range(4)]
        assert buckethash.xxhash64(key, types) == r["h"], key
        for n in (7, 16, 32):
            assert buckethash.bucket_of(key, types, n) == r[f"b{n}"]


@pytest.mark.parametrize("dtype", [
    T.FloatType(), T.DoubleType(), T.DecimalType(10, 2),
    T.ArrayType(T.StringType()), T.TimestampNTZType(),
])
def test_bucket_hash_rejects_unsupported_types(dtype):
    with pytest.raises(TypeError, match=dtype.simpleString().split("(")[0]):
        buckethash.bucket_of([1.5], [dtype], 8)
    with pytest.raises(TypeError, match=dtype.simpleString().split("(")[0]):
        buckethash.coerce(decimal.Decimal("1.5"), dtype)


def test_coerce_checks_python_type_and_range():
    assert buckethash.coerce(123, T.LongType()) == 123
    assert buckethash.coerce(bytearray(b"ab"), T.BinaryType()) == b"ab"
    with pytest.raises(TypeError, match="bigint"):
        buckethash.coerce("123", T.LongType())
    with pytest.raises(TypeError, match="int"):
        buckethash.coerce(True, T.IntegerType())
    with pytest.raises(TypeError, match="date"):
        buckethash.coerce(dt.datetime(2024, 1, 1), T.DateType())
    with pytest.raises(ValueError):
        buckethash.coerce(2**31, T.IntegerType())
    with pytest.raises(ValueError):
        buckethash.coerce(128, T.ByteType())


# ---- lookup ≡ read().where(key) ---------------------------------------------


def _read_key(t: SnapshotTable, key: tuple) -> list[dict]:
    cond = F.lit(True)
    for c, v in zip(t.key_cols, key):
        cond = cond & (F.col(c).isNull() if v is None else F.col(c) == v)
    return [r.asDict() for r in t.read().where(cond).collect()]


def _assert_lookups_match_read(t: SnapshotTable, keys) -> None:
    for key in keys:
        got = t.lookup(*key)
        assert got.columns == t.read().columns
        assert [r.asDict() for r in got.collect()] == _read_key(t, key), key


_S4 = T.StructType([T.StructField("repo", T.StringType()),
                    T.StructField("path", T.StringType()),
                    T.StructField("commit", T.StringType()),
                    T.StructField("content", T.StringType())])


def test_lookup_matches_read_mor_tombstones_null_keys(spark, tmpdir_path):
    t = SnapshotTable(spark, tmpdir_path, n_buckets=4, target_file_rows=8,
                      merge_mode="mor", max_files_per_bucket=16)
    base = [("r", f"p{i:02d}", "c000000000001", "v1") for i in range(40)]
    t.merge_epoch(spark.createDataFrame(
        base + [("r", None, "c000000000001", "null-v1")], _S4), 0)
    t.merge_epoch(spark.createDataFrame(
        [("r", f"p{i:02d}", "c000000000002", "v2") for i in range(1, 6)]
        + [("r", None, "c000000000002", "null-v2")], _S4), 1)
    t.delete_epochs(spark.createDataFrame(
        [("r", "p03", "c000000000003")], ["repo", "path", "commit"]), [2])
    t.merge_epoch(spark.createDataFrame(
        [("r", "p02", "c000000000004", "v4"),
         ("r", "p05", "c000000000001", "stale")], _S4), 3)
    assert any(f.get("kind") == "delta" for f in t.files())
    _assert_lookups_match_read(t, [
        ("r", "p00"), ("r", "p01"), ("r", "p02"), ("r", "p03"),
        ("r", "p05"), ("r", None), ("r", "missing"), ("q", "p00"),
        (None, None),
    ])
    assert t.lookup("r", "p03").collect() == []
    assert t.lookup("r", "p02").first().content == "v4"
    assert t.lookup("r", "p05").first().content == "v2"
    assert t.lookup("r", None).first().content == "null-v2"


def test_lookup_matches_read_schema_evolution_and_numeric_key(
    spark, tmpdir_path
):
    """An old file predating ``lang`` reads it as null; its int ``size``
    widens to the manifest's bigint; a Python int probes a bigint key at
    8 bytes."""
    t = SnapshotTable(spark, tmpdir_path, key_cols=("repo", "line_no"),
                      n_buckets=8, target_file_rows=16)
    s0 = T.StructType([T.StructField("repo", T.StringType()),
                       T.StructField("line_no", T.LongType()),
                       T.StructField("commit", T.StringType()),
                       T.StructField("size", T.IntegerType())])
    t.merge_epoch(spark.createDataFrame(
        [("r", i, "c000000000001", i * 10) for i in range(100)], s0), 0)
    s1 = T.StructType([T.StructField("repo", T.StringType()),
                       T.StructField("line_no", T.LongType()),
                       T.StructField("commit", T.StringType()),
                       T.StructField("size", T.LongType()),
                       T.StructField("lang", T.StringType())])
    t.merge_epoch(spark.createDataFrame(
        [("r", 2**40, "c000000000002", 2**40, "py"),
         ("r", 7, "c000000000002", 2**33, "go")], s1), 1)
    assert dict((f.name, f.dataType) for f in t.schema().fields)["size"] \
        == T.LongType()
    _assert_lookups_match_read(t, [
        ("r", 123 - 100), ("r", 7), ("r", 2**40), ("r", 99), ("r", 1000),
    ])
    row = t.lookup("r", 23).first()
    assert row.size == 230 and row.lang is None
    assert t.lookup("r", 2**40).first().lang == "py"
    with pytest.raises(TypeError, match="bigint"):
        t.lookup("r", "23")


def test_lookup_matches_read_prefix_bucketing_and_rebucket(
    spark, tmpdir_path
):
    s = T.StructType([T.StructField("band", T.StringType()),
                      T.StructField("repo", T.StringType()),
                      T.StructField("path", T.StringType()),
                      T.StructField("commit", T.StringType()),
                      T.StructField("content", T.StringType())])
    t = SnapshotTable(spark, tmpdir_path, key_cols=("band", "repo", "path"),
                      bucket_cols=("band",), n_buckets=4, target_file_rows=6)
    rows = [(f"b{i % 6}", "r", f"p{i:02d}", "c000000000001", f"x{i}")
            for i in range(60)]
    t.merge_epoch(spark.createDataFrame(rows, s), 0)
    keys = [("b0", "r", "p00"), ("b5", "r", "p59"), ("b1", "r", "p00"),
            ("b9", "r", "p00")]
    _assert_lookups_match_read(t, keys)
    stale = SnapshotTable(spark, tmpdir_path)
    t.rebucket(8)
    t.merge_epoch(spark.createDataFrame(
        [("b0", "r", "p00", "c000000000002", "new")], s), 1)
    _assert_lookups_match_read(t, keys)
    # a handle attached before the rebucket probes the manifest's layout
    assert stale.lookup("b0", "r", "p00").first().content == "new"
    want = sorted(r.path for r in t.read().where("band IN ('b2', 'b4')")
                  .collect())
    got = sorted(r.path for r in t.scan_prefixes([("b2",), ("b4",)])
                 .collect())
    assert got == want and len(got) == 20


def test_lookup_matches_read_typed_keys(spark, tmpdir_path):
    """Timestamp, date and binary keys: Spark stores the timestamp as INT96
    (naive nanoseconds in Arrow), so the key filter must compare at the
    file's type; nested payload columns come back as read() returns them."""
    s = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("d", T.DateType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("commit", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
        T.StructField("arr", T.ArrayType(T.LongType())),
    ])

    def key(i):
        return (dt.datetime(2024, 1, 1, 0, 0, i, 17, tzinfo=UTC),
                dt.date(2024, 1, 1 + i % 20), bytes([i]))

    t = SnapshotTable(spark, tmpdir_path, key_cols=("ts", "d", "b"),
                      n_buckets=4, target_file_rows=5)
    t.merge_epoch(spark.createDataFrame(
        [(*key(i), "c000000000001", {"k": str(i)}, [i, i + 1])
         for i in range(30)], s), 0)
    _assert_lookups_match_read(t, [key(0), key(7), key(29), key(31)])
    assert t.lookup(*key(7)).first().arr == [7, 8]


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_lookup_and_candidate_search_launch_no_spark_job(spark, tmpdir_path):
    t = SnapshotTable(spark, tmpdir_path, n_buckets=8, target_file_rows=10,
                      merge_mode="mor")
    t.merge_epoch(spark.createDataFrame(
        [("r", f"p{i:03d}", "c000000000001", "x") for i in range(100)],
        _S4), 0)
    t.merge_epoch(spark.createDataFrame(
        [("r", "p007", "c000000000002", "y")], _S4), 1)
    before = _next_job_id(spark)
    assert t.candidate_files(("r", "p007"))
    assert t.prefix_candidates([("r", "p007"), ("r", "p008")])
    assert t.lookup("r", "p007").collect()[0].content == "y"
    assert t.lookup("r", "p008").first().content == "x"
    assert t.lookup("r", "nope").collect() == []
    assert _next_job_id(spark) == before


def test_lookup_finds_key_in_last_candidate_file(spark, tmpdir_path):
    """Regression: candidates before the key's file read as EMPTY Arrow
    chunks, and a DataFrame built from such a table must keep the row."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=1, target_file_rows=5)
    t.merge_epoch(spark.createDataFrame(
        [("r", f"p{i:02d}", "c000000000001", f"v{i}") for i in range(40)],
        _S4), 0)
    hit = t.candidate_files(("r", "p37"))
    assert len(hit) == 1
    others = [f for f in t.files() if f["path"] != hit[0]["path"]]
    assert len(others) >= 5
    got = t.lookup("r", "p37", candidates=others + hit).collect()
    assert [r.content for r in got] == ["v37"]
