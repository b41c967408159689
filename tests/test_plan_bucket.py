"""The per-bucket merge rule (``_plan_bucket``) over random buckets, with no
Spark: file entries are dicts whose key stats are derived from the keys
they hold, as the footer reader derives them, and ``keys_of`` reads the
keys from a dict as the executor reads them from the staged files."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from etl_spark.lake.table import _plan_bucket

KEY_COLS = ("a", "b")
FACTORS = {"cow": math.inf, "mor": 0.0, "auto": 4.0}

key_st = st.tuples(
    st.integers(0, 12), st.one_of(st.none(), st.integers(0, 12))
)


def _entry(path, keys, kind, stats):
    """A manifest entry holding ``keys``. Like the footer reader, a file
    with a null key value has no key stats; ``stats`` False drops them
    too."""
    key_stats = None
    if stats and all(v is not None for k in keys for v in k):
        key_stats = {
            c: [min(k[i] for k in keys), max(k[i] for k in keys)]
            for i, c in enumerate(KEY_COLS)
        }
    e = {"path": path, "bucket": 0, "rows": len(keys),
         "key_stats": key_stats, "keys": keys}
    if kind == "delta":
        e["kind"] = "delta"
    return e


@st.composite
def buckets(draw):
    n = 0

    def files(kind, lo, hi):
        nonlocal n
        out = []
        for _ in range(draw(st.integers(lo, hi))):
            keys = draw(st.lists(key_st, min_size=1, max_size=6, unique=True))
            out.append(_entry(f"f{n}", keys, kind, draw(st.booleans())))
            n += 1
        return out

    base = files("base", 0, 5)
    deltas = files("delta", 0, 4)
    staged = files("base", 1, 4)
    return {
        "olds": draw(st.permutations(base + deltas)),
        "staged": staged,
        "probe_limit": draw(st.sampled_from([0, 4, 1_000])),
        "cap": draw(st.integers(2, 5)),
        "allowance": draw(st.integers(1, 14)),
    }


def _plan(b, mode):
    calls = []

    def keys_of(files):
        calls.append([f["path"] for f in files])
        if sum(f["rows"] for f in files) > b["probe_limit"]:
            return None
        return [k for f in files for k in f["keys"]]

    out = _plan_bucket(
        b["olds"], b["staged"], keys_of, factor=FACTORS[mode],
        cap=b["cap"], allowance=b["allowance"], key_cols=KEY_COLS,
    )
    return out, calls


def _holding(files, keys):
    """Paths of ``files`` that really hold one of ``keys``."""
    return {f["path"] for f in files if set(f["keys"]) & keys}


@given(buckets(), st.sampled_from(sorted(FACTORS)))
@settings(max_examples=200, deadline=None)
def test_plan_is_sound_and_keeps_the_delta_cap(b, mode):
    (action, hit, forced), calls = _plan(b, mode)
    olds, staged = b["olds"], b["staged"]
    base = [f for f in olds if f.get("kind") != "delta"]
    deltas = [f for f in olds if f.get("kind") == "delta"]
    staged_keys = {k for f in staged for k in f["keys"]}
    delta_keys = {k for f in deltas for k in f["keys"]}
    paths = {f["path"] for f in hit + forced}
    assert action in ("promote", "delta", "rewrite")
    assert paths <= {f["path"] for f in olds}
    if action == "rewrite":
        # every live delta folds, with every base file that holds one of
        # its keys or a staged key: no key is left twice in base
        assert {f["path"] for f in deltas} <= {f["path"] for f in forced}
        assert _holding(base, staged_keys | delta_keys) <= paths
    elif action == "delta":
        # the stale filter sees every row the staged keys may beat
        assert {f["path"] for f in deltas} <= paths
        assert _holding(base, staged_keys) <= paths
    else:
        assert not deltas and not _holding(base, staged_keys)
        assert not hit and not forced
    left = [f for f in deltas if f["path"] not in paths or action != "rewrite"]
    after = len(left) + (len(staged) if action == "delta" else 0)
    assert after <= b["cap"]
    # keys are read only from the staged files and the live deltas
    assert all(c in ([f["path"] for f in staged],
                     [f["path"] for f in deltas]) for c in calls)


@given(buckets())
@settings(max_examples=200, deadline=None)
def test_modes_are_factors_of_one_rule(b):
    """cow never writes a MOR delta; mor writes one whenever the bucket is
    not fragmented, has files, stays under the delta cap and is hit; auto
    writes one exactly when the moved rows exceed 4 x the staged rows."""
    olds, staged = b["olds"], b["staged"]
    plans = {m: _plan(b, m)[0] for m in FACTORS}
    assert plans["cow"][0] != "delta"
    deltas = [f for f in olds if f.get("kind") == "delta"]
    fragmented = len(olds) + len(staged) > b["allowance"]
    over_cap = len(deltas) + len(staged) > b["cap"]
    if fragmented or not olds or over_cap or plans["cow"][0] == "promote":
        # steps 1-4 do not depend on the factor
        assert plans["cow"] == plans["mor"] == plans["auto"]
        assert plans["cow"][0] != "delta"
        return
    assert plans["mor"][0] == "delta"
    action, hit, forced = plans["auto"]
    moved = sum(f["rows"] for f in plans["mor"][1] + plans["mor"][2])
    staged_rows = sum(f["rows"] for f in staged)
    assert (action == "delta") == (moved > 4.0 * max(1, staged_rows))
    if action == "rewrite":
        assert plans["auto"] == plans["cow"]
    else:
        assert plans["auto"] == plans["mor"]


@given(buckets())
@settings(max_examples=100, deadline=None)
def test_compaction_plan_folds_exactly_the_delta_buckets(b):
    """compact() plans with no staged files and a delta cap of 0: a bucket
    holding deltas folds them (with the base files their keys hit), any
    other unfragmented bucket is carried."""
    olds = b["olds"]
    deltas = [f for f in olds if f.get("kind") == "delta"]
    base = [f for f in olds if f.get("kind") != "delta"]
    if not olds:
        return
    action, hit, forced = _plan_bucket(
        olds, [], lambda fs: [k for f in fs for k in f["keys"]],
        factor=math.inf, cap=0, allowance=len(olds), key_cols=KEY_COLS,
    )
    assert action != "delta"
    assert {f["path"] for f in forced} == {f["path"] for f in deltas}
    delta_keys = {k for f in deltas for k in f["keys"]}
    assert _holding(base, delta_keys) <= {f["path"] for f in hit}


def test_auto_threshold_is_strict():
    """auto writes a MOR delta only when the moved rows EXCEED
    auto_mor_factor x the staged rows: at equality it rewrites."""
    staged = [_entry("s", [(1, 1), (5, 5)], "base", True)]
    for rows, want in ((8, "rewrite"), (9, "delta")):
        base = _entry("b", [(i, i) for i in range(rows)], "base", True)
        action, hit, forced = _plan_bucket(
            [base], staged, lambda fs: [k for f in fs for k in f["keys"]],
            factor=FACTORS["auto"], cap=3, allowance=16, key_cols=KEY_COLS,
        )
        assert (action, hit, forced) == (want, [base], [])
