"""The change stream's clean rules, written once as data and rendered twice.

Analog of the reference's clean stage (F1 sentinel, F2 key validity, F6
casts, F7 null guard; create_duckdb_points.py:141-158). The rules:

- **key checks**: every column of :data:`KEY_COLS` is non-null and
  non-empty (F7);
- **op fold**: a WAL-style ``op`` column (:data:`OPS`) becomes the lake
  layer's boolean tombstone flag; a null op means :data:`OP_DEFAULT`, a
  malformed op drops the row, and a delete may carry a null payload, so
  the content null guard applies to upserts only;
- **commit check**: ``commit`` matches :data:`COMMIT_RE`, a well-formed
  monotone LSN (F2);
- **lang map**: ``lang`` is looked up in ``_LANG_CANON`` after Spark's
  ``trim`` (spaces only, :data:`LANG_TRIM`) and ``lower``; a miss reads
  :data:`LANG_DEFAULT`, and a tombstone's lang stays null (F3/F6 analog).

:func:`clean_events` renders them to Spark Columns and
:func:`clean_events_arrow` to ``pyarrow.compute``; a property test holds
the two equal. Derivations over content (sha256) belong AFTER dedupe —
see ``pipeline.derive_content_columns``.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark.functions.content import _LANG_CANON, normalize_lang
from etl_spark.lake.table import TOMBSTONE_COL

KEY_COLS = ("repo", "path")

OP_COL = "op"
# op value -> is a delete; a NULL op means an upsert: when the op column
# is introduced mid-history (the additive evolution mergeSchema supports),
# segments written before it read back with op=NULL, and dropping them
# would silently lose all pre-op data on a catch-up replay spanning it
OPS = {"u": False, "d": True}
OP_DEFAULT = "u"

# ``\z``, not ``$``: Java's ``$`` (Spark's ``rlike``) also matches before a
# final line terminator, so ``"c000000000001\n"`` would pass and, sorting
# after the clean LSN, win latest-wins over it. RE2 (pyarrow, DuckDB)
# reads ``\z`` the same way.
COMMIT_RE = r"^c\d{12}\z"

# Spark's ``trim`` strips spaces only, not tabs or other whitespace
LANG_TRIM = " "
# the non-ASCII characters Spark's (Java's) ``lower`` maps into ASCII,
# found by lowering every code point in Spark: only the Kelvin sign. The
# lang map's keys are ASCII, so folding these and lowering ASCII decides
# membership exactly as Java's full lower does (``utf8_lower`` would not:
# it maps U+0130 to "i", Java to "i" + U+0307)
LANG_FOLD = {"\u212a": "k"}
LANG_DEFAULT = "unknown"


def clean_events(raw: DataFrame) -> DataFrame:
    """The clean rules as Spark Columns — JVM-side, pushdown-friendly."""
    has_op = OP_COL in raw.columns
    if has_op:
        deletes = [k for k, v in OPS.items() if v]
        raw = (
            raw.withColumn(OP_COL, F.coalesce(F.col(OP_COL), F.lit(OP_DEFAULT)))
            .where(F.col(OP_COL).isin(*OPS))
            .withColumn(TOMBSTONE_COL, F.col(OP_COL).isin(*deletes))
            .drop(OP_COL)
        )
    content_ok = F.col("content").isNotNull()
    if has_op:
        content_ok = F.col(TOMBSTONE_COL) | content_ok
    keys_ok = None
    for k in KEY_COLS:
        c = F.col(k).isNotNull() & (F.col(k) != "")
        keys_ok = c if keys_ok is None else keys_ok & c
    df = raw.where(keys_ok & content_ok).where(F.col("commit").rlike(COMMIT_RE))
    if has_op:
        # keep payload NULL on tombstones (normalize_lang(NULL) -> 'unknown')
        return df.withColumn(
            "lang",
            F.when(F.col(TOMBSTONE_COL), F.lit(None).cast("string")).otherwise(
                normalize_lang("lang")
            ),
        )
    return df.withColumn("lang", normalize_lang("lang"))


def normalize_lang_arrow(lang: pa.ChunkedArray | pa.Array) -> pa.Array:
    """``normalize_lang`` in ``pyarrow.compute``."""
    s = pc.utf8_trim(lang, characters=LANG_TRIM)
    for src, dst in LANG_FOLD.items():
        s = pc.replace_substring(s, src, dst)
    hit = pc.index_in(pc.ascii_lower(s), value_set=pa.array(list(_LANG_CANON)))
    return pc.fill_null(
        pc.take(pa.array(list(_LANG_CANON.values())), hit), LANG_DEFAULT
    )


def clean_events_arrow(raw: pa.Table) -> pa.Table:
    """The clean rules in ``pyarrow.compute``: the rows and columns
    :func:`clean_events` keeps, in its column order."""
    tbl = raw
    keep = pc.match_substring_regex(tbl.column("commit"), COMMIT_RE)
    for k in KEY_COLS:
        keep = pc.and_kleene(keep, pc.not_equal(tbl.column(k), ""))
    content_ok = pc.is_valid(tbl.column("content"))
    has_op = OP_COL in tbl.column_names
    if has_op:
        op = pc.coalesce(tbl.column(OP_COL), pa.scalar(OP_DEFAULT))
        deleted = pc.is_in(
            op, value_set=pa.array([k for k, v in OPS.items() if v])
        )
        keep = pc.and_kleene(keep, pc.is_in(op, value_set=pa.array(list(OPS))))
        content_ok = pc.or_(deleted, content_ok)
        tbl = tbl.append_column(TOMBSTONE_COL, deleted).drop_columns([OP_COL])
    tbl = tbl.filter(pc.and_kleene(keep, content_ok))
    lang = normalize_lang_arrow(tbl.column("lang"))
    if has_op:
        # one chunk each: if_else over string chunks laid out differently
        # writes bad offsets (pyarrow 16)
        lang = pc.if_else(
            tbl.column(TOMBSTONE_COL).combine_chunks(),
            pa.scalar(None, pa.string()), lang.combine_chunks(),
        )
    return tbl.set_column(tbl.column_names.index("lang"), "lang", lang)
