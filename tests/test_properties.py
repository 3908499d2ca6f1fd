"""Property-based checks (hypothesis): the W2 merge is a semilattice —
idempotent, commutative, associative — against a plain-python reference
implementation of the LWW rule.  This is the invariant the whole write path
rests on (doc/blog.md:67-75)."""

import pytest

try:
    from hypothesis import given, settings, strategies as st_
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from conftest import edge_rows_df
from flockdb_spark.operators.merge import temporal_merge
from flockdb_spark.schema import STATE_PRIORITY

op_strategy = st_.tuples(
    st_.integers(min_value=1, max_value=2),     # source
    st_.integers(min_value=1, max_value=3),     # destination
    st_.integers(min_value=0, max_value=5),     # updated_at
    st_.integers(min_value=0, max_value=3),     # state
    st_.integers(min_value=0, max_value=9),     # position
)


def python_lww(ops):
    """Reference: per key keep argmax (updated_at, priority, position)."""
    best = {}
    for s, d, ts, state, pos in ops:
        key = (s, d)
        cand = (ts, STATE_PRIORITY[state], pos, state)
        if key not in best or cand > best[key]:
            best[key] = cand
    return {k: (v[0], v[3], v[2]) for k, v in best.items()}


def spark_lww(spark, ops_a, ops_b):
    a = edge_rows_df(spark, [(1, s, d, pos, ts, state) for s, d, ts, state, pos in ops_a])
    b = edge_rows_df(spark, [(1, s, d, pos, ts, state) for s, d, ts, state, pos in ops_b])
    rows = temporal_merge(a, b).collect()
    return {(r["source_id"], r["destination_id"]): (r["updated_at"], r["state"], r["position"]) for r in rows}


@settings(max_examples=12, deadline=None)
@given(st_.lists(op_strategy, min_size=1, max_size=8), st_.lists(op_strategy, max_size=8))
def test_merge_matches_python_reference(spark, ops_a, ops_b):
    assert spark_lww(spark, ops_a, ops_b) == python_lww(ops_a + ops_b)


@settings(max_examples=8, deadline=None)
@given(st_.lists(op_strategy, min_size=1, max_size=6))
def test_merge_commutes(spark, ops):
    half = len(ops) // 2
    assert spark_lww(spark, ops[:half], ops[half:]) == spark_lww(spark, ops[half:], ops[:half])


def test_ordered_uuid_position(spark):
    from pyspark.sql import functions as F

    from flockdb_spark.schema import ordered_uuid_position, position_to_millis

    df = spark.createDataFrame([(1700000000123, i) for i in range(100)], "ms long, key long")
    out = df.select(
        ordered_uuid_position("ms", "key").alias("pos"),
        position_to_millis(ordered_uuid_position("ms", "key")).alias("ms_back"),
    )
    rows = out.collect()
    assert all(r["ms_back"] == 1700000000123 for r in rows)  # reversible (W5)
    assert len({r["pos"] for r in rows}) == 100  # same-ms keys don't collide


def test_position_decode_exact_at_boundary(spark):
    """position_to_millis must be exact even when the low word sits within
    double-rounding range (±256 ulp at 2^61) of the 2^20 boundary — the
    bare float divide carries into millis+1 there."""
    from pyspark.sql import functions as F

    from flockdb_spark.schema import POSITION_SHIFT, position_to_millis

    ms = 1700000000123  # position ≈ 1.78e18, double spacing 512
    rows = [(ms * POSITION_SHIFT + low,) for low in
            (0, 1, POSITION_SHIFT - 1, POSITION_SHIFT - 128, POSITION_SHIFT - 255)]
    df = spark.createDataFrame(rows, "pos long")
    out = df.select(position_to_millis(F.col("pos")).alias("ms_back")).collect()
    assert all(r["ms_back"] == ms for r in out)


def test_ordered_uuid_portable_mode(spark):
    """hash_mode='portable' (the q25 oracle twin) keeps the W5 contract:
    reversible, low word < 2^20, deterministic across evaluations."""
    from pyspark.sql import functions as F

    from flockdb_spark.schema import (
        POSITION_SHIFT,
        ordered_uuid_position,
        position_to_millis,
    )

    df = spark.createDataFrame(
        [(1700000000123, i) for i in range(50)], "ms long, key long"
    )
    pos = ordered_uuid_position("ms", "key", hash_mode="portable")
    rows = df.select(
        pos.alias("pos"),
        position_to_millis(pos).alias("ms_back"),
        F.pmod(pos, F.lit(POSITION_SHIFT)).alias("low"),
    ).collect()
    assert all(r["ms_back"] == 1700000000123 for r in rows)
    assert all(0 <= r["low"] < POSITION_SHIFT for r in rows)
    assert len({r["pos"] for r in rows}) == 50


def python_sequenced(ops):
    """Reference fold: canonical (ts, prio, pos) order; position preserved
    except on Removed/Negative -> Normal resurrection."""
    best = {}
    for s, d, ts, state, pos in sorted(
        ops, key=lambda o: (o[2], STATE_PRIORITY[o[3]], o[4])
    ):
        key = (s, d)
        if key not in best:
            best[key] = (pos, ts, state)
        else:
            bpos, _, bstate = best[key]
            newpos = pos if (bstate in (1, 3) and state == 0) else bpos
            best[key] = (newpos, ts, state)
    return {k: (v[1], v[2], v[0]) for k, v in best.items()}


def spark_sequenced(spark, ops_a, ops_b):
    from flockdb_spark.operators.merge import sequenced_merge

    a = edge_rows_df(spark, [(1, s, d, pos, ts, state) for s, d, ts, state, pos in ops_a])
    b = edge_rows_df(spark, [(1, s, d, pos, ts, state) for s, d, ts, state, pos in ops_b])
    rows = sequenced_merge(a, b).collect()
    return {
        (r["source_id"], r["destination_id"]): (r["updated_at"], r["state"], r["position"])
        for r in rows
    }


@settings(max_examples=12, deadline=None)
@given(st_.lists(op_strategy, min_size=1, max_size=8), st_.lists(op_strategy, max_size=8))
def test_sequenced_merge_matches_python_fold(spark, ops_a, ops_b):
    assert spark_sequenced(spark, ops_a, ops_b) == python_sequenced(ops_a + ops_b)


@settings(max_examples=8, deadline=None)
@given(st_.lists(op_strategy, min_size=2, max_size=8))
def test_sequenced_merge_split_invariant(spark, ops):
    """Which rows arrive as `existing` vs `writes` must not matter."""
    half = len(ops) // 2
    assert spark_sequenced(spark, ops[:half], ops[half:]) == spark_sequenced(
        spark, ops[half:], ops[:half]
    )


# --- funnel vs a direct python reference ------------------------------------

event_strategy = st_.tuples(
    st_.integers(min_value=1, max_value=4),            # user_id
    st_.integers(min_value=0, max_value=20),           # ts (ns; µs = ts//1000)
    st_.sampled_from(["view", "click", "purchase", "error"]),
)


def _funnel_ref(rows, steps=("view", "click", "purchase")):
    """Direct per-user reference: chained earliest-strictly-after scans."""
    out = {}
    users = {u for u, _, _ in rows}
    for u in users:
        evs = [(t // 1000, e) for uu, t, e in rows if uu == u]
        prev, ts = None, []
        for step in steps:
            cand = [t for t, e in evs if e == step and (prev is None or t > prev)]
            if not cand:
                break
            prev = min(cand)
            ts.append(prev)
        if len(ts) == len(steps):
            out[u] = (*ts, ts[-1] - ts[0])
    return out


@settings(max_examples=10, deadline=None)
@given(st_.lists(event_strategy, min_size=1, max_size=30))
def test_funnel_matches_python_reference(spark, rows):
    from flockdb_spark.functions.analytics import funnel

    events = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    got = {
        r["user_id"]: (r["t0_us"], r["t1_us"], r["t2_us"], r["span_us"])
        for r in funnel(events).collect()
    }
    assert got == _funnel_ref(rows)


# --- flat compound-tree evaluation vs the join composition ------------------

# random binary set-op trees over a tiny vertex universe, mixed directions
_leaf = st_.tuples(
    st_.integers(min_value=1, max_value=5),     # source vertex
    st_.booleans(),                             # forward / backward
)


@st_.composite
def tree_strategy(draw, max_leaves=4):
    from flockdb_spark.operators.algebra import (
        Difference, Intersection, Simple, Term, Union,
    )

    n = draw(st_.integers(min_value=2, max_value=max_leaves))
    nodes = []
    for _ in range(n):
        src, fwd = draw(_leaf)
        nodes.append(Simple(Term(1, src, fwd, (0,))))
    while len(nodes) > 1:
        right, left = nodes.pop(), nodes.pop()
        op = draw(st_.sampled_from([Intersection, Union, Difference]))
        nodes.append(op(left, right))
    return nodes[0]


@settings(max_examples=10, deadline=None)
@given(tree_strategy())
def test_flat_tree_equals_join_composition(spark, tree):
    """The one-scan flags evaluation must agree with the recursive join
    composition on ANY tree shape, including mixed forward/backward leaves
    and repeated vertices."""
    import unittest.mock as mock

    from conftest import edge_rows_df
    from flockdb_spark.graph import EdgeStore
    import flockdb_spark.operators.algebra as A

    # a small graph with overlap, reciprocal edges, and non-Normal states
    rows = [
        (1, 1, 2, 0, 10, 0), (1, 1, 3, 0, 10, 0), (1, 2, 3, 0, 10, 0),
        (1, 2, 4, 0, 10, 0), (1, 3, 1, 0, 10, 0), (1, 4, 1, 0, 10, 0),
        (1, 4, 5, 0, 10, 2), (1, 5, 2, 0, 10, 0), (1, 1, 5, 0, 10, 1),
    ]
    store = EdgeStore.from_edges(spark, edge_rows_df(spark, rows))
    flat = {r["id"] for r in tree.ids(store).collect()}
    with mock.patch.object(A, "flat_ids", lambda *_: None):  # force fallback
        joined = {r["id"] for r in tree.ids(store).collect()}
    assert flat == joined


# --- batch_flat_pages vs per-tree evaluation (R18 one-scan batch) ----------

_node_strategy = st_.deferred(
    lambda: st_.one_of(
        st_.builds(
            lambda s: ("simple", s), st_.integers(min_value=1, max_value=4)
        ),
        st_.tuples(
            st_.sampled_from(["and", "or", "diff"]), _node_strategy, _node_strategy
        ),
    )
)


def _build_tree(spec):
    from flockdb_spark.operators.algebra import (
        Difference, Intersection, Simple, Term, Union,
    )

    if spec[0] == "simple":
        return Simple(Term(1, spec[1]))
    kind, l, r = spec
    cls = {"and": Intersection, "or": Union, "diff": Difference}[kind]
    return cls(_build_tree(l), _build_tree(r))


@settings(max_examples=10, deadline=None)
@given(
    st_.lists(_node_strategy, min_size=1, max_size=4),
    st_.integers(min_value=1, max_value=5),
)
def test_batch_flat_pages_matches_per_tree_ids(spark, specs, page_count):
    """For ANY batch of random set-op trees, the one-scan batched pages must
    equal each tree's independent evaluation, top-page_count ids DESC."""
    from flockdb_spark.graph import EdgeStore
    from flockdb_spark.operators.algebra import Intersection, Union, Difference
    from flockdb_spark.operators.batch import batch_flat_pages
    from conftest import edge_rows_df

    rows = []
    for s in range(1, 5):
        for d in range(10, 10 + 2 * s):
            rows.append((1, s, d, d * 10, 100, 0))
    store = EdgeStore.from_edges(spark, edge_rows_df(spark, rows))

    trees = [_build_tree(sp) for sp in specs]
    compound = [
        (t, i) for i, t in enumerate(trees)
        if isinstance(t, (Intersection, Union, Difference))
    ]
    if not compound:
        return  # batch_flat_pages only takes compound roots (facade falls back)
    df = batch_flat_pages(store, [(t, page_count) for t, _ in compound])
    assert df is not None
    got: dict[int, list[int]] = {}
    for r in df.collect():
        got.setdefault(r["qix"], []).append(r["id"])
    for qix, (tree, _) in enumerate(compound):
        expect = sorted(
            (r["id"] for r in tree.ids(store).collect()), reverse=True
        )[: page_count + 1]
        assert sorted(got.get(qix, []), reverse=True) == expect, (qix, tree)


def test_span_rewrite_conservation(spark):
    """Property: for any corpus, dedup_spans_rewrite conserves segments
    (kept + dropped == total) and every kept doc's rebuilt text is the
    in-order concatenation of a subset of its own segments."""
    from flockdb_spark.functions import dedup
    from pyspark.sql import functions as F

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 11}" for j in range(1 + (i % 9))), "en", "s", 0)
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = dedup.dedup_spans_rewrite(docs, seg_words=3)
    segs_total = docs.select(
        F.col("doc_id"),
        (F.floor((F.size(F.split("text", " ")) - 1) / 3) + 1).alias("n_segs"),
    )
    joined = out.join(segs_total, "doc_id").collect()
    assert len(joined) == 40
    originals = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in joined:
        assert r["n_kept"] + r["n_dropped"] == r["n_segs"]
        # rebuilt text is the in-order concatenation of a (possibly
        # non-contiguous) subsequence of the original's segment list
        orig_words = originals[r["doc_id"]].split(" ")
        orig_segs = [
            " ".join(orig_words[i : i + 3]) for i in range(0, len(orig_words), 3)
        ]
        rebuilt = r["clean_text"]
        # greedy subsequence match over segments
        pos, matched = 0, 0
        for seg in orig_segs:
            target = rebuilt[pos:]
            if target.startswith(seg) and (
                len(target) == len(seg) or target[len(seg)] == " "
            ):
                pos += len(seg) + (1 if len(target) > len(seg) else 0)
                matched += 1
        assert pos >= len(rebuilt.rstrip()) and matched == r["n_kept"], (
            r["doc_id"], rebuilt, orig_segs)
