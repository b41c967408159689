"""The clean rules' two renderings agree: Spark Columns (``clean_events``)
and ``pyarrow.compute`` (``clean_events_arrow``), over generated events
that hit every rule's edge — null and empty keys, null and malformed ops,
padded, tabbed and unicode langs, commits with trailing line terminators,
and duplicate LSNs."""

from __future__ import annotations

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from etl_spark.cleaning import (
    COMMIT_RE,
    clean_events,
    clean_events_arrow,
    normalize_lang_arrow,
)

_LSNS = ["c%012d" % i for i in (1, 2, 2, 7)]

_key = st.one_of(st.none(), st.just(""), st.sampled_from(["r", "p", "x/y"]),
                 st.text(max_size=3))
_commit = st.one_of(
    st.none(),
    st.sampled_from(_LSNS),
    st.sampled_from(_LSNS).map(lambda c: c + "\n"),
    st.sampled_from(_LSNS).map(lambda c: c + "\r\n"),
    st.sampled_from(["c12", "C000000000001", " c000000000001", ""]),
    st.text(max_size=14),
)
_LANGS = [
    "py", " Py ", "\tpy", "PYTHON\t", "  c++", "MAR\u212aDOWN",
    "JAVASCR\u0130PT", "go\n", "", " ", "Rust", "\u00a0rs", "txt", None,
]
_lang = st.one_of(st.sampled_from(_LANGS), st.text(max_size=6))
_content = st.one_of(st.none(), st.text(max_size=4))
_op = st.one_of(st.none(), st.sampled_from(["u", "d", "x", "", "U"]))
_event = st.tuples(_key, _key, _commit, _lang, _content, _op)

_COLS = ["repo", "path", "commit", "lang", "content", "op"]
_DDL = ", ".join(f"{c} string" for c in _COLS)


def _rows(records):
    return sorted(
        (tuple(r) for r in records),
        key=lambda r: tuple((v is None, str(v)) for v in r),
    )


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=st.lists(_event, max_size=16), with_op=st.booleans())
@example(  # every listed lang, LSN and op in one batch, always generated
    events=[("r", f"l{i}", _LSNS[0], lang, "x", "u")
            for i, lang in enumerate(_LANGS)]
    + [("r", f"c{i}", c + end, "py", "x", None)
       for i, c in enumerate(_LSNS) for end in ("", "\n", "\r\n")]
    + [("r", f"o{i}", _LSNS[1], "py", None, op)
       for i, op in enumerate([None, "u", "d", "x", "", "U"])],
    with_op=True,
)
def test_spark_and_arrow_renderings_agree(spark, events, with_op):
    cols = _COLS if with_op else _COLS[:-1]
    rows = [e if with_op else e[:-1] for e in events]
    ddl = _DDL if with_op else _DDL.rsplit(",", 1)[0]
    want = clean_events(spark.createDataFrame(rows, ddl))
    got = clean_events_arrow(
        pa.table({c: pa.array([r[i] for r in rows], pa.string())
                  for i, c in enumerate(cols)})
    )
    assert got.column_names == want.columns
    assert _rows(zip(*got.to_pydict().values())) == _rows(want.collect())


@pytest.mark.parametrize("suffix", ["\n", "\r\n"])
def test_arrow_rendering_rejects_trailing_line_terminator(suffix):
    tbl = pa.table({
        "repo": ["r", "r"], "path": ["p", "p"],
        "commit": ["c000000000001", "c000000000001" + suffix],
        "lang": ["py", "py"], "content": ["x", "x"],
    })
    assert clean_events_arrow(tbl).column("commit").to_pylist() == [
        "c000000000001"
    ]
    assert COMMIT_RE.endswith(r"\z")


def test_lang_map_folds_kelvin_sign_like_java_lower():
    got = normalize_lang_arrow(pa.array(
        ["MAR\u212aDOWN", "JAVASCR\u0130PT", " c++ ", "\tpy", None]
    ))
    assert got.to_pylist() == [
        "markdown", "unknown", "cpp", "unknown", "unknown"
    ]
