"""Correctness gate, run after the timed region.

The fact table must equal an independent DuckDB oracle over the generated
segments: cleaned, latest commit wins per (repo, path), tombstoned keys
removed. Each derived table must equal its batch definition over the final
snapshot, and a mirror replica must hold exactly the source's rows. Any
difference fails the run.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pandas as pd

COMMIT_RE = r"^c\d{12}$"
FACT_COLS = ["repo", "path", "commit", "content", "content_sha256"]


def oracle(stream: Path, max_epoch: int) -> pd.DataFrame:
    return duckdb.connect().execute(
        f"""
        WITH cleaned AS (
            SELECT repo, path, "commit", coalesce(op, 'u') AS op, content
            FROM read_parquet('{stream}/epoch=*/*.parquet',
                              hive_partitioning=1)
            WHERE epoch <= {int(max_epoch)}
              AND repo IS NOT NULL AND repo <> ''
              AND path IS NOT NULL AND path <> ''
              AND regexp_matches("commit", '{COMMIT_RE}')
              AND coalesce(op, 'u') IN ('u', 'd')
              AND (coalesce(op, 'u') = 'd' OR content IS NOT NULL)
        ), latest AS (
            SELECT *, row_number() OVER (
                PARTITION BY repo, path ORDER BY "commit" DESC) AS rn
            FROM cleaned
        )
        SELECT repo, path, "commit", content, sha256(content) AS content_sha256
        FROM latest WHERE rn = 1 AND op = 'u'
        """
    ).df()


def diff(want: pd.DataFrame, got: pd.DataFrame, label: str) -> dict:
    """Multiset difference both ways; empty when the frames hold the same
    rows."""
    con = duckdb.connect()
    con.register("want", want)
    con.register("got", got[list(want.columns)])
    missing = con.execute(
        "SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)"
    ).fetchone()[0]
    extra = con.execute(
        "SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)"
    ).fetchone()[0]
    return {"check": label, "ok": missing == 0 and extra == 0,
            "rows_want": len(want), "rows_got": len(got),
            "missing": int(missing), "extra": int(extra)}


def check(workload) -> list[dict]:
    """Every check of the gate, each with ``ok``."""
    table = workload.pipe.table
    fact = table.read().select(*FACT_COLS).toPandas()
    results = [diff(oracle(workload.stream, workload.k), fact, "fact_oracle")]
    v = workload.mirror.verify()
    results.append({"check": "mirror_verify",
                    "ok": bool(v["rows_match"] and v["watermark_match"]),
                    **v})
    replica = workload.mirror.dst.read().select(*FACT_COLS).toPandas()
    results.append(diff(fact, replica, "mirror_rows"))
    clean = workload.pipe.clean_corpus
    if clean is not None:
        from etl_spark.derived import clean_corpus_expr

        want = clean_corpus_expr(table.read()).toPandas()
        results.append(diff(want, clean.read().toPandas(), "clean_corpus_batch"))
    results.append({"check": "operations", "ok": not workload.mismatches,
                    "mismatches": workload.mismatches[:20]})
    return results
