"""Property-based differential tests (hypothesis): randomized small
tables, operator result vs DuckDB SQL on the same data. The reference
pins semantics with thousands of randomized micro-tests
(inst/tests/tests.Rraw); these cover the trickiest order/tie/NULL
semantics against an independent engine.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_table_spark.core import DT
from data_table_spark.exact import dec, dsum, sql_dec, sql_dsum
from data_table_spark.operators.window import frank, rleid, shift
from data_table_spark.operators.setops import fintersect, fsetdiff, funion

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

vals = st.lists(
    st.integers(min_value=-3, max_value=3), min_size=1, max_size=12
)


def _duck(pdf_map: dict[str, pd.DataFrame], sql: str):
    con = duckdb.connect()
    for name, pdf in pdf_map.items():
        con.register(name, pdf)
    return con.execute(sql).fetchall()


@SET
@given(xs=vals)
def test_frank_average_matches_sql(spark, xs):
    pdf = pd.DataFrame({"i": range(len(xs)), "x": xs})
    dt = DT(spark.createDataFrame(pdf), order_by=["i"])
    got = sorted(
        (r["i"], float(r["rank"]))
        for r in frank(dt, "x", ties="average").df.collect()
    )
    exp = sorted(
        (a, float(b))
        for a, b in _duck(
            {"t": pdf},
            "SELECT i, CAST(rank() OVER (ORDER BY x) AS DOUBLE)"
            " + (COUNT(*) OVER (PARTITION BY x) - 1) / 2.0 FROM t",
        )
    )
    assert got == exp


@SET
@given(xs=vals)
def test_shift_lag_matches_sql(spark, xs):
    pdf = pd.DataFrame({"i": range(len(xs)), "x": xs})
    dt = DT(spark.createDataFrame(pdf), order_by=["i"])
    got = sorted(
        (r["i"], r["x_lag_1"])
        for r in shift(dt, "x", 1, fill=-99).df.collect()
    )
    exp = sorted(
        _duck(
            {"t": pdf},
            "SELECT i, COALESCE(lag(x) OVER (ORDER BY i), -99) FROM t",
        )
    )
    assert got == exp


@SET
@given(xs=vals)
def test_rleid_matches_sql(spark, xs):
    pdf = pd.DataFrame({"i": range(len(xs)), "x": xs})
    dt = DT(spark.createDataFrame(pdf), order_by=["i"])
    out = rleid(dt, ["x"])
    got = sorted((r["i"], int(r["rleid"])) for r in out.df.collect())
    exp = sorted(
        (a, int(b))
        for a, b in _duck(
            {"t": pdf},
            """
            WITH f AS (SELECT i, x, CASE WHEN x IS DISTINCT FROM
                       lag(x) OVER (ORDER BY i) THEN 1 ELSE 0 END AS c
                       FROM t)
            SELECT i, SUM(c) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) FROM f
            """,
        )
    )
    assert got == exp


@SET
@given(xs=vals, ys=vals)
def test_setops_match_sql(spark, xs, ys):
    px = pd.DataFrame({"k": xs})
    py = pd.DataFrame({"k": ys})
    x = DT(spark.createDataFrame(px))
    y = DT(spark.createDataFrame(py))
    for op, sql in [
        (funion, "SELECT k FROM x UNION SELECT k FROM y"),
        (
            lambda a, b: funion(a, b, all=True),
            "SELECT k FROM x UNION ALL SELECT k FROM y",
        ),
        (
            lambda a, b: fintersect(a, b, all=True),
            "SELECT k FROM x INTERSECT ALL SELECT k FROM y",
        ),
        (
            lambda a, b: fsetdiff(a, b, all=True),
            "SELECT k FROM x EXCEPT ALL SELECT k FROM y",
        ),
    ]:
        got = sorted(r["k"] for r in op(x, y).collect())
        exp = sorted(r[0] for r in _duck({"x": px, "y": py}, sql))
        assert got == exp, sql


@SET
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.sampled_from(["p", "q", "r"]),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1, max_size=15, unique_by=lambda t: (t[0], t[1]),
    )
)
def test_dcast_melt_roundtrip(spark, data):
    """melt(dcast(x)) recovers x for unique (row, col) keyed frames —
    the reference's own reshape invariant."""
    from data_table_spark.operators.reshape import dcast, melt

    pdf = pd.DataFrame(data, columns=["rid", "cat", "val"])
    dt = DT(spark.createDataFrame(pdf))
    wide = dcast(
        dt, ["rid"], "cat", "val",
        pivot_values=["p", "q", "r"],
    )
    back = melt(wide, id_vars=["rid"], measure_vars=["p", "q", "r"])
    got = sorted(
        (r["rid"], r["variable"], r["value"])
        for r in back.df.collect()
        if r["value"] is not None
    )
    exp = sorted((a, b, c) for a, b, c in data)
    assert got == exp


@SET
@given(
    xs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(-9, 9)),
        min_size=1, max_size=12, unique_by=lambda t: (t[0], t[1]),
    ),
    iq=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=1, max_size=12,
    ),
)
def test_asof_backwardroll_matches_duckdb_asof(spark, xs, iq):
    """Our union-tag as-of join == DuckDB's native ASOF LEFT JOIN on
    random (key, time) data (x unique per (k,t); equality matches x at
    the same instant, per data.table roll semantics)."""
    from data_table_spark.operators.asof import asof_join

    px = pd.DataFrame(xs, columns=["k", "t", "xv"])
    pi = pd.DataFrame(iq, columns=["k", "t"])
    pi["iid"] = range(len(pi))
    x = DT(spark.createDataFrame(px), key=["k", "t"])
    i = DT(spark.createDataFrame(pi), key=["k", "t"])
    out = asof_join(x, i, on=["k"], time_x="t", time_i="t", roll=True)
    cols = set(out.columns)
    tcol = "t" if "t" in cols else "t_x"
    got = sorted(
        (r["iid"], r["xv"]) for r in out.df.collect()
    )
    exp = sorted(
        _duck(
            {"x": px, "i": pi},
            "SELECT i.iid, x.xv FROM i ASOF LEFT JOIN x"
            " ON i.k = x.k AND i.t >= x.t",
        )
    )
    assert got == exp


@SET
@given(
    xs=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 20), st.integers(0, 10)),
        min_size=1, max_size=10,
    ),
    ys=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 20), st.integers(0, 10)),
        min_size=1, max_size=10,
    ),
)
def test_foverlaps_any_matches_sql(spark, xs, ys):
    """foverlaps type='any' == the SQL overlap predicate on random
    keyed intervals (inclusive bounds, data.table semantics)."""
    from data_table_spark.operators.overlaps import foverlaps

    px = pd.DataFrame(
        [(k, s, s + w, i) for i, (k, s, w) in enumerate(xs)],
        columns=["k", "xs", "xe", "xid"],
    )
    py = pd.DataFrame(
        [(k, s, s + w, i) for i, (k, s, w) in enumerate(ys)],
        columns=["k", "ys", "ye", "yid"],
    )
    x = DT(spark.createDataFrame(px), key=["k", "xs", "xe"])
    y = DT(spark.createDataFrame(py), key=["k", "ys", "ye"])
    out = foverlaps(x, y, by_x=["k", "xs", "xe"], by_y=["k", "ys", "ye"])
    got = sorted((r["xid"], r["yid"]) for r in out.df.collect())
    exp = sorted(
        _duck(
            {"x": px, "y": py},
            "SELECT x.xid, y.yid FROM x JOIN y ON x.k = y.k"
            " AND x.xs <= y.ye AND y.ys <= x.xe",
        )
    )
    assert got == exp


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=0,
    max_size=15,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=edges_strategy)
def test_dedup_clusters_vs_union_find(spark, edges):
    """dedup_clusters' star-contraction CC must equal a driver-side
    union-find on any random small graph (nodes 0..9, arbitrary
    extra/self/dup edges)."""
    from conftest import union_find_labels
    from data_table_spark.pipeline import dedup_clusters

    edges = [(a, b) for a, b in edges if a != b]
    nodes = list(range(10))
    # oracle: union-find, components labeled by their min node
    want = union_find_labels(nodes, edges)

    docs = spark.createDataFrame([(v,) for v in nodes], ["doc_id"])
    pairs = (
        spark.createDataFrame(edges, ["doc_a", "doc_b"])
        if edges
        else spark.createDataFrame([], "doc_a long, doc_b long")
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs, pairs=pairs).collect()
    }
    assert got == want


@SET
@given(
    xs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30), st.integers(-9, 9)),
        min_size=1, max_size=10, unique_by=lambda t: (t[0], t[1]),
    ),
    iq=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30)),
        min_size=1, max_size=10,
    ),
    re_first=st.booleans(),
    re_last=st.booleans(),
)
def test_asof_rollends_matches_duckdb(spark, xs, iq, re_first, re_last):
    """roll=TRUE x every rollends combination vs a DuckDB construction:
    fwd/bwd ASOF joins + the bmerge gating predicates (in-range rolls
    always; past-last needs rollends[last]; before-first takes the NEXT
    x under rollends[first])."""
    from data_table_spark.operators.asof import asof_join

    px = pd.DataFrame(xs, columns=["k", "t", "xv"])
    pi = pd.DataFrame(iq, columns=["k", "t"])
    pi["iid"] = range(len(pi))
    x = DT(spark.createDataFrame(px), key=["k", "t"])
    i = DT(spark.createDataFrame(pi), key=["k", "t"])
    out = asof_join(
        x, i, on=["k"], time_x="t", time_i="t", roll=True,
        rollends=(re_first, re_last),
    )
    got = sorted((r["iid"], r["xv"]) for r in out.df.collect())
    exp = sorted(
        _duck(
            {"x": px, "i": pi},
            f"""
            WITH fwd AS (
              SELECT i.iid, x.xv, x.t AS xt FROM i ASOF LEFT JOIN x
                ON i.k = x.k AND i.t >= x.t),
            bwd AS (
              SELECT i.iid, x.xv, x.t AS xt FROM i ASOF LEFT JOIN x
                ON i.k = x.k AND i.t <= x.t)
            SELECT i.iid,
              CASE
                WHEN f.xt IS NOT NULL AND b.xt IS NOT NULL THEN f.xv
                WHEN f.xt IS NOT NULL AND {re_last} THEN f.xv
                WHEN f.xt IS NULL AND {re_first} THEN b.xv
              END AS xv
            FROM i LEFT JOIN fwd f ON i.iid = f.iid
                   LEFT JOIN bwd b ON i.iid = b.iid
            """,
        )
    )
    assert got == exp


def test_chunk_documents_edges(spark):
    """Short docs yield exactly one (possibly short) chunk; stride
    geometry: a doc of T tokens yields ceil(max(T-overlap,1)/stride)
    chunks and consecutive chunks overlap by `overlap` tokens."""
    from data_table_spark.pipeline import chunk_documents

    rows = [(1, "a b c"), (2, " ".join(f"t{i}" for i in range(80)))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(df, size=32, overlap=8)
    got = {r["doc_id"]: [] for r in out.collect()}
    for r in out.collect():
        got[r["doc_id"]].append((r["chunk_id"], r["n_tokens"], r["chunk_text"]))
    assert got[1] == [(0, 3, "a b c")]
    c2 = sorted(got[2])
    # 80 tokens, stride 24: starts 1,25,49,73 -> sizes 32,32,32,8
    assert [n for _, n, _ in c2] == [32, 32, 32, 8]
    first, second = c2[0][2].split(" "), c2[1][2].split(" ")
    assert first[-8:] == second[:8]  # 8-token overlap


def test_keep_best_picks_longest_then_min_id(spark):
    """keep_best keeps the longest doc of each near-dup cluster, min
    doc_id on ties; singletons survive as their own cluster."""
    from data_table_spark.pipeline import keep_best

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (10, base),                      # cluster with 11 (near-identical)
        (11, base + " extra"),           # longer -> the keeper
        (30, "totally different words here for the singleton case x y"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["cluster_id"]: (r["doc_id"], r["n_tokens"])
           for r in keep_best(df, threshold=0.8).collect()}
    assert out[10] == (11, 11)  # cluster labeled by min id, keeper is 11
    assert out[30] == (30, 10)


def test_decontaminate_empty_benchmark(spark):
    """An empty benchmark yields no contamination rows (and no error
    from the broadcast of an empty gram set)."""
    from data_table_spark.pipeline import decontaminate

    docs = spark.createDataFrame(
        [(1, "one two three four five six")], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([], "doc_id long, text string")
    assert decontaminate(docs, bench, n=4).count() == 0


def test_itime_format_parse_inverse(spark):
    """Property: as_itime(itime_format(s)) == s for all seconds-of-day
    (formatter and parser are exact inverses on the full domain) —
    checked exhaustively over the boundary-heavy subset."""
    from pyspark.sql import functions as F

    from data_table_spark.functions import as_itime, itime_format

    secs = (
        list(range(0, 61))             # around midnight + minute edge
        + list(range(3540, 3661))      # hour boundary
        + list(range(43170, 43230))    # midday
        + list(range(86340, 86400))    # day end
    )
    df = spark.createDataFrame([(s,) for s in secs], "s int")
    out = df.select(
        "s", as_itime(itime_format(F.col("s"))).alias("back")
    ).filter(F.col("s") != F.col("back"))
    assert out.count() == 0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=3, max_size=12,
        ),
        min_size=2, max_size=8,
    ),
    thr=st.sampled_from([0.5, 0.6, 0.8]),
)
def test_ppjoin_equals_exact_jaccard(spark, docs, thr):
    """jaccard_prefix_pairs (PPJoin prefix+length+position filters) must
    return EXACTLY the pairs of the unfiltered blocked join on any
    corpus and threshold — the losslessness contract, stressed with a
    5-word vocabulary so shingles collide heavily and short docs sit
    on ceil boundaries."""
    from data_table_spark.pipeline import (
        jaccard_prefix_pairs, ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id long, text string",
    )
    exact = {
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in ngram_jaccard_pairs(df, threshold=thr).collect()
    }
    pp = {
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in jaccard_prefix_pairs(df, threshold=thr).collect()
    }
    assert pp == exact


@SET
@given(
    shared=st.text(alphabet="abcdef ", min_size=19, max_size=40),
    pre_a=st.text(alphabet="uvwxyz", min_size=0, max_size=15),
    pre_b=st.text(alphabet="nopqrs", min_size=0, max_size=15),
)
def test_winnow_coverage_guarantee(spark, shared, pre_b, pre_a):
    """Winnowing guarantee (Schleimer et al.): two documents sharing a
    substring of length >= k + w - 1 (k=12, w=8 -> 19) ALWAYS share at
    least one selected fingerprint, no matter how the shared run is
    shifted by unrelated prefixes."""
    from data_table_spark.pipeline.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, pre_a + shared), (2, pre_b + shared)], ["doc_id", "text"]
    )
    fp = winnow_fingerprints(df, k=12, w=8).collect()
    a = {r["h"] for r in fp if r["doc_id"] == 1}
    b = {r["h"] for r in fp if r["doc_id"] == 2}
    assert a & b, "shared >= k+w-1 run must yield a shared fingerprint"


def _asof_brute(xs, is_, roll):
    """Reference-semantics as-of oracle in plain Python: for each i
    time, pick the x observation per the roll rule. xs: [(t, v)],
    is_: [t]. Returns {i_time: v_or_None} (one key group, default
    rollends)."""
    out = {}
    ts = sorted(xs)
    for it in is_:
        exact = [v for t, v in ts if t == it]
        if exact:
            out[it] = exact[-1]
            continue
        before = [(t, v) for t, v in ts if t < it]
        after = [(t, v) for t, v in ts if t > it]
        if roll == "forward":        # LOCF, rollends=(False, True)
            out[it] = before[-1][1] if before else None
        elif roll == "backward":     # NOCB, rollends=(True, False)
            out[it] = after[0][1] if after else None
        else:                        # nearest, rollends=(True, True)
            cands = []
            if before:
                cands.append((it - before[-1][0], 0, before[-1][1]))
            if after:
                # ties prefer the EARLIER observation (forward fill
                # wins), matching the reference's nearest rule
                cands.append((after[0][0] - it, 1, after[0][1]))
            out[it] = min(cands)[2] if cands else None
    return out


@SET
@given(
    xts=st.lists(st.integers(min_value=0, max_value=20), min_size=1,
                 max_size=8, unique=True),
    its=st.lists(st.integers(min_value=-2, max_value=23), min_size=1,
                 max_size=8, unique=True),
    mode=st.sampled_from(["forward", "backward", "nearest"]),
)
def test_asof_join_matches_brute_oracle(spark, xts, its, mode):
    """Randomized as-of join vs a plain-Python reference oracle —
    covers boundary cases (i before first / after last observation,
    exact-timestamp hits, nearest ties) the fixed driver datasets
    may not."""
    from data_table_spark.operators.asof import asof_join

    xs = [(t, t * 10) for t in xts]
    x = DT(spark.createDataFrame(
        [("k", t, v) for t, v in xs], ["k", "t", "v"]), order_by=["t"])
    i = DT(spark.createDataFrame(
        [("k", t) for t in its], ["k", "ti"]), order_by=["ti"])
    roll = {"forward": True, "backward": float("-inf"),
            "nearest": "nearest"}[mode]
    out = asof_join(x, i, on=["k"], time_x="t", time_i="ti", roll=roll)
    got = {r["ti"]: r["v"] for r in out.df.collect()}
    want = _asof_brute(xs, its, mode)
    assert got == want


@SET
@given(
    xrows=st.lists(st.tuples(st.integers(0, 3), st.integers(-5, 5)),
                   min_size=1, max_size=10),
    yks=st.lists(st.integers(0, 4), min_size=1, max_size=5, unique=True),
    mode=st.sampled_from(["all", "first", "last"]),
)
def test_lookup_mult_matches_brute_oracle(spark, xrows, yks, mode):
    """Randomized X[Y] lookup cardinality semantics vs a brute oracle:
    one row per Y row (per match under mult='all'), first/last pick by
    X's declared order, unmatched Y rows keep NULL payload."""
    from data_table_spark.operators.joins import lookup

    xs = [(k, i, v) for i, (k, v) in enumerate(xrows)]  # xo = i unique
    x = DT(spark.createDataFrame(xs, ["k", "xo", "v"]), order_by=["xo"])
    y = DT(spark.createDataFrame([(k,) for k in yks], ["k"]))
    out = lookup(x, y, on=["k"], mult=mode)
    got = sorted((r["k"], r["v"]) for r in out.df.collect())

    want = []
    for k in yks:
        matches = sorted((xo, v) for kk, xo, v in xs if kk == k)
        if not matches:
            want.append((k, None))
        elif mode == "all":
            want.extend((k, v) for _, v in matches)
        elif mode == "first":
            want.append((k, matches[0][1]))
        else:
            want.append((k, matches[-1][1]))
    assert got == sorted(want)


@SET
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40),
                   min_size=1, max_size=4),
    weights=st.lists(st.integers(min_value=0, max_value=5),
                     min_size=4, max_size=4),
    budget=st.integers(min_value=10, max_value=100),
)
def test_mixture_sample_matches_python_oracle(spark, sizes, weights, budget):
    """mixture_sample's kept-id SET equals a pure-Python replay of the
    bigint threshold arithmetic + md5 gate (derandomized: the 'sample'
    is a deterministic function of ids, counts, and targets)."""
    import hashlib

    from hypothesis import assume

    from data_table_spark.pipeline.curation import mixture_sample

    assume(sum(w for w in weights[: len(sizes)]) > 0)
    groups = [f"g{i}" for i in range(len(sizes))]
    targets = {g: w for g, w in zip(groups, weights)}
    rows, nid = [], 0
    for g, n in zip(groups, sizes):
        for _ in range(n):
            rows.append((nid, g))
            nid += 1
    df = spark.createDataFrame(rows, "doc_id long, source string")

    share_total = sum(targets.values())
    total = len(rows)
    T = total * budget // 100
    expect = set()
    for g, n in zip(groups, sizes):
        want = T * targets[g] // share_total
        thr = min(1 << 24, want * (1 << 24) // n)
        for i, gg in rows:
            if gg != g:
                continue
            h24 = int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16)
            if h24 < thr:
                expect.add(i)

    got = {
        r.doc_id
        for r in mixture_sample(df, targets, budget_pct=budget).collect()
    }
    assert got == expect


@SET
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**6),
                 min_size=1, max_size=60, unique=True),
    n_shards=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=99),
)
def test_shuffle_shards_matches_python_oracle(spark, ids, n_shards, seed):
    """shuffle_shards (shard, pos) equals a pure-Python replay of the
    seeded md5 shard assignment and in-shard ordering."""
    import hashlib

    from data_table_spark.pipeline.curation import shuffle_shards

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")

    def h(i):
        return hashlib.md5(f"{seed}:{i}".encode()).hexdigest()

    expect = {}
    by_shard = {}
    for i in ids:
        shard = int(h(i)[:12], 16) % n_shards
        by_shard.setdefault(shard, []).append(i)
    for shard, members in by_shard.items():
        members.sort(key=lambda i: (h(i), i))
        for pos, i in enumerate(members, start=1):
            expect[i] = (shard, pos)

    out = shuffle_shards(df, n_shards=n_shards, seed=seed).collect()
    got = {r.doc_id: (r.shard, r.pos) for r in out}
    assert got == expect


@SET
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=8),
        min_size=1,
        max_size=6,
    )
)
def test_bigram_lm_matches_python_oracle(spark, docs):
    """bigram_lm_scores equals a pure-Python add-one bigram LM (counts,
    vocab, micro-nat quantization, exact integer sums) on random tiny
    corpora over a 4-token alphabet."""
    import math

    from data_table_spark.pipeline.text import bigram_lm_scores

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # tokenization mirror: split on runs of spaces after trim; empty
    # text tokenizes to [''] in both engines (same as tokens_col)
    toked = {i: (t.strip().split() if t.strip() else [""]) for i, t in rows}
    c2, c1, vocab = {}, {}, set()
    for toks in toked.values():
        vocab.update(toks)
        for a, b in zip(toks, toks[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
    V = len(vocab)
    expect = {}
    for i, toks in toked.items():
        bgs = list(zip(toks, toks[1:]))
        if not bgs:
            continue
        s = 0
        for ab in bgs:
            lp = math.log((c2[ab] + 1) / (c1[ab[0]] + V)) * 1e6
            # mirror HALF_UP (away from zero) rather than banker's
            s += int(math.floor(lp + 0.5)) if lp >= 0 else -int(
                math.floor(-lp + 0.5))
        expect[i] = (len(bgs), s / (len(bgs) * 1e6))

    out = {r.doc_id: (r.n_bigrams, r.avg_lp)
           for r in bigram_lm_scores(df).collect()}
    assert set(out) == set(expect)
    for k, (n, avg) in expect.items():
        assert out[k][0] == n
        assert abs(out[k][1] - avg) < 1e-12


@SET
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),     # user
            st.sampled_from(["a", "b", "c", "x"]),     # type
            st.integers(min_value=0, max_value=20),    # ts
        ),
        min_size=1,
        max_size=30,
    )
)
def test_funnel_stages_matches_python_oracle(spark, events):
    """funnel_stages equals a brute-force Python fold (first step-1,
    then first of each later step strictly after the previous) on
    random event streams with duplicate timestamps and interleaved
    noise events."""
    from data_table_spark.operators.window import funnel_stages

    ev = spark.createDataFrame(
        events, "user_id long, event_type string, ts_us long"
    )
    steps = ["a", "b", "c"]
    expect = {}
    for u in {e[0] for e in events}:
        mine = [(t, ts) for (uu, t, ts) in events if uu == u]
        ts_of = [None] * 3
        prev = None
        for i, s in enumerate(steps):
            cand = [
                ts for (t, ts) in mine
                if t == s and (prev is None or ts > prev)
            ]
            if i == 0 and not cand:
                break
            if not cand:
                break
            ts_of[i] = min(cand)
            prev = ts_of[i]
        if ts_of[0] is not None:
            stage = sum(1 for t in ts_of if t is not None)
            expect[u] = (ts_of[0], ts_of[1], ts_of[2], stage)

    got = {
        r.user_id: (r.t1, r.t2, r.t3, r.stage)
        for r in funnel_stages(ev, steps).collect()
    }
    assert got == expect


@SET
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),    # user
            st.integers(min_value=0, max_value=40),   # ts (period = 10)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_retention_cohorts_matches_python_oracle(spark, events):
    """retention_cohorts equals a plain-Python cohort fold (integer
    period bucketing, first-period cohort, distinct active users per
    (cohort, offset)) on random event streams."""
    from data_table_spark.operators.window import retention_cohorts

    ev = spark.createDataFrame(events, "user_id long, ts_us long")
    out = retention_cohorts(ev, period_us=10)

    active = {(u, ts // 10) for (u, ts) in events}
    cohort = {}
    for u, wk in active:
        cohort[u] = min(cohort.get(u, wk), wk)
    expect = {}
    for u, wk in active:
        key = (cohort[u], wk - cohort[u])
        expect[key] = expect.get(key, 0) + 1

    got = {(r.cohort, r.wk_offset): r.n_users for r in out.collect()}
    assert got == expect


# ---------------------------------------------------------------------------
# The oracle methodology itself (VERDICT r5 item 8): every double-sum
# comparison in the registry rides on the exact-sum convention of
# data_table_spark/exact.py -- "cast both engines' addends to
# DECIMAL(18,4), sum exactly, cast back", through its Spark half (dsum)
# and its oracle half (sql_dsum). This test attacks the convention
# directly with adversarial doubles (half-ulp rounding boundaries, large
# magnitudes, sign cancellation) and asserts the two engines agree UNDER
# THE CHECKER'S OWN cell normalization, so an engine divergence in
# cast-rounding or overflow behavior fails here before it can corrupt a
# query comparison.
# ---------------------------------------------------------------------------


def _checker_sig(pdf):
    """Load the REAL frame_sig/norm_cell from tools/check_correctness.py
    (not a copy) so the property protects the shipped methodology."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "check_correctness.py",
    )
    spec = importlib.util.spec_from_file_location("_ccheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame_sig(pdf)


@SET
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.one_of(
                # rounding-boundary probes: x.xxxx5 half-way cases
                st.integers(min_value=-10_000_000, max_value=10_000_000).map(
                    lambda n: n / 1e5
                ),
                # magnitude probes near the sf100 headroom note in SCALE.md
                st.integers(min_value=-(10**12), max_value=10**12).map(float),
                st.floats(
                    min_value=-1e9, max_value=1e9,
                    allow_nan=False, allow_infinity=False,
                ),
            ),
        ),
        min_size=1,
        max_size=25,
    )
)
# the back cast: 900719925475.0001 * 10^4 is past 2^53, and DuckDB's own
# cast returns the integral 900719925475.0
@example(rows=[(0, 900719925475.0), (0, 6.103515625e-05)])
# the addend cast: DuckDB scales the binary double, Spark rounds
# Double.toString HALF_UP (...313.9968 vs ...314.0, which the
# cancellation exposes; .5162 vs .5163)
@example(rows=[(0, 43123705059314.0), (0, -43123705059313.0)])
@example(rows=[(0, 1314.51625)])
# exponent strings: a plain VARCHAR round trip parses '9e-06' as 0.0001
@example(rows=[(0, 9e-06)])
@example(rows=[(0, -7e-06)])
def test_decimal_sum_convention_matches_duckdb(spark, rows):
    pdf = pd.DataFrame(rows, columns=["g", "x"])
    sdf = spark.createDataFrame(pdf)
    got = sdf.groupBy("g").agg(dsum("x").alias("s")).toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    exp = con.execute(
        f"SELECT g, {sql_dsum('x')} AS s FROM t GROUP BY g"
    ).fetchdf()
    assert _checker_sig(got) == _checker_sig(exp)


def test_decimal_sum_overflow_margin(spark):
    """Pin the MEASURED overflow geometry of the exact-sum convention
    (VERDICT r5 worried sf100 sums approached the 10^14 cap):
    (a) the cap binds PER ADDEND, not per sum -- both engines widen the
    accumulator (Spark decimal(28,4), DuckDB DECIMAL(38,4)), so a
    1.98e14 SUM of in-range addends is exact and equal in both;
    (b) a sum past 9.007e11 keeps its fractional part in both: there
    sum * 10^4 exceeds 2^53, where DuckDB's own back cast rounds
    1000000000000.0001 to an integer and the checker sees a mismatch;
    (c) a single addend past 10^14 is LOUD in both engines (Spark 4
    defaults ANSI on -> ArithmeticException; DuckDB ConversionException)
    -- never a silent NULL that could hash-mismatch. If either behavior
    shifts with a version bump (e.g. ansi.enabled flipped off), this
    test fails and the checker's margin logic must be revisited."""
    pdf = pd.DataFrame({
        "g": [0, 0, 1, 1],
        "x": [9.9e13, 9.9e13, 999999999999.5, 0.5001],
    })
    got = (
        spark.createDataFrame(pdf).groupBy("g").agg(dsum("x").alias("s"))
        .toPandas().sort_values("g", ignore_index=True)
    )
    assert got["s"].tolist() == [1.98e14, 1000000000000.0001]
    con = duckdb.connect()
    con.register("t", pdf)
    exp = con.execute(
        f"SELECT g, {sql_dsum('x')} AS s FROM t GROUP BY g"
    ).fetchdf()
    assert _checker_sig(got) == _checker_sig(exp)

    from pyspark.errors.exceptions.captured import ArithmeticException

    over = pd.DataFrame({"x": [2.0e14]})
    with pytest.raises(ArithmeticException):
        spark.createDataFrame(over).select(dec("x").alias("c")).collect()
    con.register("over", over)
    with pytest.raises(duckdb.ConversionException):
        con.execute(f"SELECT {sql_dec('x')} FROM over").fetchall()


@SET
@given(
    fvals=st.lists(
        st.one_of(
            st.floats(allow_nan=True, allow_infinity=False, width=64),
            st.integers(min_value=-(10**14), max_value=10**14).map(float),
            st.just(None),
        ),
        min_size=1, max_size=30,
    ),
    ivals=st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1, max_size=30,
    ),
    svals=st.lists(
        st.one_of(st.text(max_size=8), st.just(None), st.booleans(),
                  st.just(float("nan"))),
        min_size=1, max_size=30,
    ),
    tvals=st.lists(
        st.one_of(
            # epoch-µs timestamps, mixed whole-second and sub-second
            st.integers(min_value=0, max_value=2**40).map(
                lambda us: pd.Timestamp(us * 1000000, unit="us")
            ),
            st.integers(min_value=0, max_value=2**50).map(
                lambda us: pd.Timestamp(us, unit="us")
            ),
            st.just(pd.NaT),
        ),
        min_size=1, max_size=30,
    ),
)
def test_frame_sig_vectorization_equivalence(fvals, ivals, svals, tvals):
    """The vectorized frame_sig (numpy %.9g / %d fast paths) emits
    byte-identical signatures to a cell-by-cell norm_cell loop across
    floats (incl. NaN / None-coerced-to-NaN / .5-boundary / near-cap),
    int64, and object columns — the checker's whole comparison rides
    on this."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "check_correctness.py",
    )
    spec = importlib.util.spec_from_file_location("_ccheck2", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    n = max(len(fvals), len(ivals), len(svals), len(tvals))
    fvals = (fvals * n)[:n]
    ivals = (ivals * n)[:n]
    svals = (svals * n)[:n]
    tvals = (tvals * n)[:n]
    pdf = pd.DataFrame({"f": pd.Series(fvals, dtype="float64"),
                        "i": pd.Series(ivals, dtype="int64"),
                        "s": pd.Series(svals, dtype="object"),
                        "t": pd.Series(tvals, dtype="datetime64[us]")})
    cols, rows = mod.frame_sig(pdf)
    # reference loop, pre-vectorization semantics
    ref = sorted(
        "\x1f".join(mod.norm_cell(v) for v in tup)
        for tup in pdf[cols].itertuples(index=False)
    )
    assert rows == ref


@SET
@given(
    n=st.integers(min_value=2, max_value=8),
    prologue=st.lists(
        st.sampled_from(["Report Title", "generated by tool", "notes"]),
        min_size=0, max_size=3,
    ),
    pad=st.integers(min_value=1, max_value=4),
)
def test_fread_prologue_and_aligned_space_roundtrip(spark, n, prologue, pad):
    """skip='auto' drops a non-tabular prologue and an aligned-space
    layout parses to the same frame a plain csv does (whitespace-run
    sep path)."""
    import os
    import tempfile

    from data_table_spark.sources.fread import fread

    rows = [(i, i * 7 % 5, f"w{i}") for i in range(n)]
    d = tempfile.mkdtemp(dir="/root/repo/.tmp")

    # csv with prologue
    p1 = os.path.join(d, "a.csv")
    with open(p1, "w") as fh:
        for ln in prologue:
            fh.write(ln + "\n")
        fh.write("x,y,s\n")
        for r in rows:
            fh.write(f"{r[0]},{r[1]},{r[2]}\n")
    got = sorted(map(tuple, fread(spark, p1).df.collect()))
    assert got == rows

    # aligned-space layout of the same frame
    p2 = os.path.join(d, "b.txt")
    sp = " " * pad
    with open(p2, "w") as fh:
        fh.write(f"x{sp}y{sp}s\n")
        for r in rows:
            fh.write(f"{r[0]}{sp}{r[1]}{sp}{r[2]}{sp.rstrip()} \n")
    df2 = fread(spark, p2).df
    assert df2.columns == ["x", "y", "s"]
    assert sorted(map(tuple, df2.collect())) == rows


# --- chunk-stitch equivalence under randomized NULL/NaN/tie patterns ---
# The r10 halo-routing bug (NaN/NULL order values landing in a leading
# chunk under greatest()'s null-skipping) was found by a hand probe;
# these randomized properties pin the whole family: for ANY small
# table — random values, random NULL/NaN placement, random duplicate
# ties, both sort directions, any chunk count — the stitched plan must
# equal the unsplit plan exactly.

ordvals = st.lists(
    st.one_of(
        st.integers(min_value=-5, max_value=5).map(float),
        st.just(None),
        st.just(float("nan")),
    ),
    min_size=2,
    max_size=14,
)


def _rows(ts):
    return pd.DataFrame(
        {
            "g": [1] * len(ts),
            "t": pd.array(ts, dtype="Float64"),
            "v": [float(i % 5) for i in range(len(ts))],
        }
    )


def _sig(df, col):
    import math

    out = []
    for r in df.collect():
        x = r[col]
        if isinstance(x, float) and math.isnan(x):
            x = "NaN"
        out.append((r["rid"], x))
    return sorted(out)


@SET
@given(ts=ordvals, desc=st.booleans(), nc=st.integers(2, 5))
def test_froll_stitch_equivalence_property(spark, ts, desc, nc):
    """The halo stitch: froll, and shift(fill=), whose out-of-range
    fill reads the stitch's global rank and count (with_rank)."""
    from data_table_spark.operators.window import froll

    pdf = _rows(ts)
    pdf["rid"] = range(len(pdf))
    sdf = spark.createDataFrame(pdf)
    dt = DT(sdf, order_by=["-t" if desc else "t", "rid"])
    a = froll(dt, "sum", "v", 3, by=["g"]).df
    b = froll(dt, "sum", "v", 3, by=["g"], n_chunks=nc).df
    assert _sig(a, "v_rollsum_3") == _sig(b, "v_rollsum_3")
    for type_ in ("lag", "lead"):
        a = shift(dt, "v", 2, fill=-1.0, type_=type_, by=["g"]).df
        b = shift(dt, "v", 2, fill=-1.0, type_=type_, by=["g"], n_chunks=nc).df
        col = f"v_{type_}_2"
        assert _sig(a, col) == _sig(b, col), type_


@SET
@given(ts=ordvals, desc=st.booleans(), nc=st.integers(2, 5))
def test_cumfn_stitch_equivalence_property(spark, ts, desc, nc):
    """Covers BOTH directions: chunks are numbered in traversal order,
    so the carry spine needs no direction of its own (cumfn once
    accumulated the wrong chunks' totals under a desc first key)."""
    from data_table_spark.operators.window import cumfn

    pdf = _rows(ts)
    pdf["rid"] = range(len(pdf))
    sdf = spark.createDataFrame(pdf)
    order = ["-t" if desc else "t", "rid"]
    dt = DT(sdf, order_by=order)
    a = cumfn(dt, "max", "v", by=["g"], order=order).df
    b = cumfn(dt, "max", "v", by=["g"], order=order, n_chunks=nc).df
    assert _sig(a, "v_cummax") == _sig(b, "v_cummax")


@SET
@example(
    ts=[float(i) for i in range(12)], desc=True, nc=3,
    holes=[False, True, True, False, True, True, True, False, True, True,
           False, True, False, False],
)
@given(
    ts=ordvals, desc=st.booleans(), nc=st.integers(2, 5),
    holes=st.lists(st.booleans(), min_size=14, max_size=14),
)
def test_nafill_stitch_equivalence_property(spark, ts, desc, nc, holes):
    """LOCF and NOCB with n_chunks= vs unsplit, both directions of the
    first order key. The example is the descending-order fault: with
    v = [1,NA,NA,4,NA,NA,NA,8,NA,NA,11,NA] over t = 0..11 ordered by
    -t, the stitched LOCF read 8 at t=11 (unsplit: NA) and NOCB read 11
    instead of 4 at t=4..6, because the spine walked chunks by value
    instead of in traversal order."""
    from data_table_spark.operators.window import nafill_locf, nafill_nocb

    pdf = _rows(ts)
    pdf["rid"] = range(len(pdf))
    # the fill target: distinct values, so a wrong carry is visible
    pdf["v"] = [None if holes[i] else float(i + 1) for i in range(len(pdf))]
    sdf = spark.createDataFrame(pdf)
    dt = DT(sdf, order_by=["-t" if desc else "t", "rid"])
    for fill in (nafill_locf, nafill_nocb):
        a = fill(dt, "v", by=["g"]).df
        b = fill(dt, "v", by=["g"], n_chunks=nc).df
        assert _sig(a, "v") == _sig(b, "v"), fill.__name__


@SET
@given(ts=ordvals, desc=st.booleans(), nc=st.integers(2, 5))
def test_frank_stitch_equivalence_property(spark, ts, desc, nc):
    """frank(n_chunks=) vs unsplit across random NULL/NaN/tie patterns,
    both directions, na_last=True (the reference default, which routes
    NULLs to a dedicated trailing chunk in the stitched path)."""
    from data_table_spark.operators.window import frank

    pdf = _rows(ts)
    pdf["rid"] = range(len(pdf))
    sdf = spark.createDataFrame(pdf)
    dt = DT(sdf, order_by=["rid"])
    a = frank(dt, "t", ties="min", by=["g"], desc=desc).df
    b = frank(dt, "t", ties="min", by=["g"], desc=desc, n_chunks=nc).df
    assert _sig(a, "rank") == _sig(b, "rank")


@SET
@given(
    ts=ordvals, nc=st.integers(2, 5),
    order=st.sampled_from([["rid"], ["t", "rid"], ["-t", "rid"]]),
)
def test_rleid_stitch_equivalence_property(spark, ts, nc, order):
    """rleid(n_chunks=) vs unsplit: random runs (values drawn from a
    tiny domain force boundary-straddling runs; NULL==NULL counts as
    same-run per the reference rule), chunked on the row id or on the
    NULL/NaN-bearing t in either direction."""
    from data_table_spark.operators.window import rleid

    pdf = _rows(ts)
    pdf["rid"] = range(len(pdf))
    # runs over a 3-value domain incl. NULL
    pdf["runv"] = [
        None if i % 3 == 0 else float(i // 3 % 2) for i in range(len(pdf))
    ]
    sdf = spark.createDataFrame(pdf)
    dt = DT(sdf, order_by=["rid"])
    a = rleid(dt, "runv", by=["g"], order=order).df
    b = rleid(dt, "runv", by=["g"], order=order, n_chunks=nc).df
    assert _sig(a, "rleid") == _sig(b, "rleid")


@SET
@given(ts=ordvals, desc=st.booleans(), nc=st.integers(2, 5))
def test_rank_carry_stitch_equivalence_property(spark, ts, desc, nc):
    """The chunked-rank carries vs unsplit under random NULL/NaN/tie
    order values, both directions: rowid (_chunked_row_number),
    frolladaptive sum (the running-sum spine) and max (the halo stitch
    with its global rank)."""
    from data_table_spark.operators.window import frolladaptive, rowid

    pdf = _rows(ts)
    pdf["rid"] = range(len(pdf))
    pdf["n"] = [i % 3 + 1 for i in range(len(pdf))]
    sdf = spark.createDataFrame(pdf)
    dt = DT(sdf, order_by=["-t" if desc else "t", "rid"])
    a = rowid(dt, "g").df
    b = rowid(dt, "g", n_chunks=nc).df
    assert _sig(a, "rowid") == _sig(b, "rowid")
    for fun in ("sum", "max"):
        a = frolladaptive(dt, "v", "n", by=["g"], fun=fun).df
        b = frolladaptive(dt, "v", "n", by=["g"], fun=fun, n_chunks=nc).df
        assert _sig(a, "v_adaptive") == _sig(b, "v_adaptive"), fun


times = st.lists(
    st.one_of(
        st.integers(0, 20).map(float), st.none(), st.just(float("nan"))
    ),
    min_size=1,
    max_size=8,
)


@SET
@given(
    xts=times,
    its=times,
    roll=st.sampled_from([True, "nocb", "nearest"]),
    nc=st.integers(2, 5),
)
def test_asof_stitch_equivalence_property(spark, xts, its, roll, nc):
    """asof_join(n_chunks=) vs unsplit over random X/I timelines with
    duplicate and exactly-matching times (the tag tiebreak cases) and
    NULL/NaN times, which the chunking routes to the chunk Spark's sort
    puts them in."""
    from data_table_spark.operators.asof import asof_join

    x = DT(spark.createDataFrame(
        [(1, t, float(j)) for j, t in enumerate(xts)],
        "k long, tx double, xv double",
    ))
    i = DT(spark.createDataFrame(
        [(1, t) for t in its], "k long, ti double"
    ))

    def canon(v):
        # NULL and NaN are not orderable against numbers: tag them
        if v is None:
            return (0, 0.0)
        return (1, 0.0) if v != v else (2, v)

    def run(n):
        out = asof_join(
            x, i, on=["k"], time_x="tx", time_i="ti", roll=roll, n_chunks=n
        ).df
        return sorted(
            (canon(r["ti"]), canon(r["xv"]))
            for r in out.select("ti", "xv").collect()
        )

    assert run(None) == run(nc)


def _frank_oracle(xs, ties, na_last):
    """Pure-Python reference frank oracle (R/frank.R + forder's
    NA-outermost/NaN-adjacent rule, tests.Rraw 1988): sort key level
    0=value/1=NaN/2=NA, ascending under na.last=TRUE, descending under
    FALSE; "keep" ranks missing (NaN AND NA — is.na(NaN) TRUE) as None
    with non-missing ranked among themselves; None (na.last=NA) drops
    missing rows."""
    import math

    def lvl(v):
        if v is None:
            return 2
        if isinstance(v, float) and math.isnan(v):
            return 1
        return 0

    n = len(xs)
    idx = list(range(n))
    if na_last is None or na_last == "keep":
        ranked = [i for i in idx if lvl(xs[i]) == 0]
        key = lambda i: xs[i]  # noqa: E731
    else:
        ranked = idx
        sgn = 1 if na_last is True else -1
        key = lambda i: (sgn * lvl(xs[i]), 0 if lvl(xs[i]) else xs[i])  # noqa: E731
    order = sorted(ranked, key=key)
    out = [None] * n
    groups = []
    for i in order:
        if groups and key(groups[-1][0]) == key(i):
            groups[-1].append(i)
        else:
            groups.append([i])
    pos = 1
    for gi, g in enumerate(groups, 1):
        k = len(g)
        for i in g:
            if ties == "min":
                out[i] = pos
            elif ties == "max":
                out[i] = pos + k - 1
            elif ties == "dense":
                out[i] = gi
            elif ties == "average":
                out[i] = pos + (k - 1) / 2.0
        pos += k
    return out


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    xs=st.lists(
        st.one_of(
            st.integers(min_value=-2, max_value=2).map(float),
            st.none(),
            st.just(float("nan")),
            st.just(float("inf")),
            st.just(float("-inf")),
        ),
        min_size=1, max_size=10,
    ),
    ties=st.sampled_from(["min", "max", "dense", "average"]),
    na_last=st.sampled_from([True, False, "keep"]),
    n_chunks=st.sampled_from([None, 3]),
)
def test_frank_nan_na_property(spark, xs, ties, na_last, n_chunks):
    """frank vs the pure-Python reference oracle across random
    value/NaN/NA/±Inf vectors, every tie method × na_last × the chunk
    stitch — pins the round-12 two-level missing key end to end."""
    dt = DT(spark.createDataFrame(
        [(i, v) for i, v in enumerate(xs)], "i int, x double"
    ), order_by=["i"])
    out = frank(dt, "x", ties=ties, na_last=na_last, n_chunks=n_chunks,
                out_col="rk")
    got = [r["rk"] for r in out.df.orderBy("i").collect()]
    exp = _frank_oracle(xs, ties, na_last)
    if ties == "average":
        exp = [float(e) if e is not None else None for e in exp]
    assert got == exp, (xs, ties, na_last, n_chunks)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    xs=st.lists(
        st.one_of(
            st.integers(min_value=-2, max_value=2).map(float),
            st.none(),
            st.just(float("nan")),
            st.just(float("inf")),
        ),
        min_size=1, max_size=10,
    ),
    ties=st.sampled_from(["first", "last"]),
    na_last=st.sampled_from([True, False, "keep"]),
    n_chunks=st.sampled_from([None, 3]),
)
def test_frank_first_last_no_tiebreak_rank_sets(
    spark, xs, ties, na_last, n_chunks
):
    """frank ties="first"/"last" WITHOUT tiebreak= resolves within-tie
    order by engine order — documented nondeterminism (a distributed
    engine cannot honor R's physical row order without a declared
    identity). The ENGINE-ORDER-INDEPENDENT contract (round-13 pin,
    verdict #7): each tie group still occupies exactly the positional
    rank range the reference's group placement assigns (two-level
    missing key, NA outermost), so we assert rank SETS per tie group
    rather than exact rows, plus global permutation of 1..n over the
    ranked rows."""
    import math

    from data_table_spark.operators.window import frank

    dt = DT(spark.createDataFrame(
        [(i, v) for i, v in enumerate(xs)], "i int, x double"
    ), order_by=["i"])
    out = frank(dt, "x", ties=ties, na_last=na_last, n_chunks=n_chunks,
                out_col="rk")
    got = [r["rk"] for r in out.df.orderBy("i").collect()]

    # oracle group placement: reuse _frank_oracle's key (min ranks),
    # then each tie group's expected rank SET is min..min+k-1
    mins = _frank_oracle(xs, "min", na_last)
    ranked = [i for i in range(len(xs)) if mins[i] is not None]
    assert sorted(got[i] for i in ranked) == list(range(1, len(ranked) + 1))
    groups = {}
    for i in ranked:
        groups.setdefault(mins[i], []).append(i)
    for mn, members in groups.items():
        expected = set(range(mn, mn + len(members)))
        assert {got[i] for i in members} == expected, (
            xs, ties, na_last, n_chunks, mn)
    for i in range(len(xs)):
        if mins[i] is None:
            if na_last == "keep" and (
                xs[i] is None
                or (isinstance(xs[i], float) and math.isnan(xs[i]))
            ):
                assert got[i] is None
            else:
                assert got[i] is None


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    xs=st.lists(
        st.one_of(
            st.integers(min_value=-2, max_value=2).map(float),
            st.none(),
            st.just(float("nan")),
            st.just(float("inf")),
        ),
        min_size=1, max_size=10,
    ),
    desc=st.booleans(),
    na_last=st.booleans(),
)
def test_setorder_nan_na_property(spark, xs, desc, na_last):
    """setorder vs the forder rule (NA outermost, NaN adjacent, both
    directions; tests.Rraw 1988.5-.8) on random vectors — compared as
    the sorted sequence of (level, value) keys, which is tie-order
    invariant."""
    import math

    def lvl(v):
        if v is None:
            return 2
        if isinstance(v, float) and math.isnan(v):
            return 1
        return 0

    d = DT(spark.createDataFrame(
        [(i, v) for i, v in enumerate(xs)], "i int, x double"
    ))
    col = "-x" if desc else "x"
    got = [r["x"] for r in d.setorder(col, na_last=na_last).df.collect()]
    sgn = 1 if na_last else -1
    exp = sorted(
        xs,
        key=lambda v: (
            sgn * lvl(v),
            (-(v or 0) if desc else (v or 0)) if lvl(v) == 0 else 0,
        ),
    )
    key = lambda v: (lvl(v), None if lvl(v) else v)  # noqa: E731
    assert [key(v) for v in got] == [key(v) for v in exp]


def _r_num2char_oracle(x, scipen=0, na="", dec=".", force_decimal=False):
    """Pure-Python reimplementation of src/fwrite.c writeNumeric (15
    significant digits, trailing-zero strip, the width formula) —
    independent of the Spark expression in sources/fwrite.py, so
    substr/lpad off-by-ones there can't hide."""
    import math

    if x is None:
        return None
    if math.isnan(x):
        return na
    if x == 0.0:
        return "0" + (dec if force_decimal else "")
    if math.isinf(x):
        return "Inf" if x > 0 else "-Inf"
    sign = "-" if x < 0 else ""
    # 15 significant digits rounded HALF-UP from the SHORTEST
    # round-trip repr: Java's %.14E (the Spark expression's digit
    # source) pads/rounds the shortest repr, and the reference C
    # equivalently rounds a 16-digit intermediate half-up
    # (src/fwrite.c: l%10>=5 -> bump) — neither re-expands the exact
    # binary value, so neither does the oracle. Python's format()
    # rounds half-even and the exact expansion differs at knife-edge
    # digit-16 halves; both would be wrong here.
    from decimal import ROUND_HALF_UP, Decimal

    d = Decimal(repr(abs(x)))
    exp = d.adjusted()
    q = d.scaleb(-exp).quantize(
        Decimal("1.00000000000000"), rounding=ROUND_HALF_UP)
    if q >= 10:
        q = q.scaleb(-1).quantize(
            Decimal("1.00000000000000"), rounding=ROUND_HALF_UP)
        exp += 1
    digits = str(q).replace(".", "").rstrip("0") or "0"
    sf = len(digits)
    dr = sf - exp - 1
    if dr <= 0:
        dl0, drr = -dr, 0
        # src/fwrite.c:270 — forceDecimal widens whole numbers by the
        # appended dec BEFORE the threshold compare
        width = sf + dl0 + (1 if force_decimal else 0)
    elif sf > dr:
        dl0, drr = 0, dr
        width = sf + 1
    else:
        dl0, drr = 1, dr
        width = dr + 2
    threshold = sf + (sf > 1) + 2 + (3 if abs(exp) > 99 else 2) + scipen
    if width <= threshold:
        if drr == 0:
            body = digits + "0" * dl0 + (dec if force_decimal else "")
        elif sf > drr:
            body = digits[: sf - drr] + dec + digits[sf - drr:]
        else:
            body = "0" + dec + "0" * (drr - sf) + digits
    else:
        body = digits[0] + (dec + digits[1:] if sf > 1 else "")
        body += ("e-" if exp < 0 else "e+") + (
            str(abs(exp)) if abs(exp) > 99 else f"{abs(exp):02d}")
    return sign + body


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    xs=st.lists(
        st.one_of(
            st.floats(allow_nan=False, allow_infinity=False,
                      allow_subnormal=False, width=64),
            st.floats(min_value=-1e6, max_value=1e6),
            st.integers(min_value=-10**15, max_value=10**15).map(float),
            st.sampled_from([0.0, -0.0, 1e-300, 1e300, float("inf"),
                             float("-inf"), float("nan"), 0.1, -20.0,
                             16777217.0, 3.141592653589793, 5e-324]),
        ),
        min_size=1, max_size=25,
    ),
    scipen=st.sampled_from([0, 1, 2, -4, 999, -999]),
    force_decimal=st.booleans(),
)
def test_r_num2char_matches_python_oracle(spark, xs, scipen,
                                          force_decimal):
    """The fwrite double renderer (Spark expression) vs an independent
    pure-Python port of src/fwrite.c writeNumeric across random
    doubles × scipen × forceDecimal — plus a value-roundtrip sanity
    check. SUBNORMALS are excluded from digit equality (documented
    divergence: Java's %.14E zero-pads the shortest round-trip repr,
    which is correctly rounded for every NORMAL double — the deviation
    is ≪ half the 15th-digit place — but not below 2.2e-308 where
    binary ULPs are huge; the C reference expands true digits there).
    For subnormals we assert value round-trip within one unit of the
    15th significant digit instead (15-sf writes are lossy on 16-17
    digit shortest reprs — reference behavior: fwrite doubles are not
    guaranteed lossless)."""
    import math

    from pyspark.sql import functions as F

    from data_table_spark.sources.fwrite import _r_num2char

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(xs)], "i int, x double")
    out = df.select(
        "i",
        _r_num2char(F.col("x"), scipen, "NA",
                    force_decimal=force_decimal).alias("s"),
    )
    got = {r["i"]: r["s"] for r in out.collect()}
    MIN_NORMAL = 2.2250738585072014e-308
    for i, v in enumerate(xs):
        if v != 0 and abs(v) < MIN_NORMAL:  # subnormal: value-near only
            tol = max(abs(v) * 1e-14, 1e-323)
            assert abs(float(got[i]) - v) <= tol, (v, got[i])
            continue
        exp = _r_num2char_oracle(v, scipen=scipen, na="NA",
                                 force_decimal=force_decimal)
        assert got[i] == exp, (v, scipen, force_decimal, got[i], exp)
        if math.isfinite(v) and v != 0:
            back = float(got[i])
            if math.isfinite(back):  # 15-sf rounding near DBL_MAX can
                # overflow to inf — reference behavior, not a bug
                assert abs(back - v) <= abs(v) * 1e-14, (v, got[i])


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(
        st.tuples(
            st.floats(min_value=-1e6, max_value=1e6,
                      allow_nan=False).map(lambda v: round(v, 6)),
            st.integers(min_value=-10**6, max_value=10**6),
            st.sampled_from(["alpha", "beta", "g g", ""]),
        ),
        min_size=2, max_size=20,
    ),
    sep=st.sampled_from([";", "|", "\t"]),
    dec=st.sampled_from([".", ","]),
)
def test_fwrite_dec_fread_autodec_roundtrip(spark, vals, sep, dec):
    """Round-13 closing property: fwrite(dec=) → fread with NO dec
    argument auto-detects the decimal separator from the sampled field
    balance (tests.Rraw 2256) and recovers the exact doubles, ints and
    strings — the write and read halves of the dec contract verified
    against each other on random frames."""
    import glob
    import os
    import tempfile

    from data_table_spark.sources.fread import fread
    from data_table_spark.sources.fwrite import fwrite

    rows = [(i, a, b, c) for i, (a, b, c) in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "i int, x double, n int, s string")
    out = os.path.join(tempfile.mkdtemp(dir="/root/repo/.tmp"), "rt")
    fwrite(df, out, sep=sep, dec=dec, single_file=True, na="NA")
    back = fread(spark, glob.glob(f"{out}/*.csv")[0], sep=sep,
                 na_strings=("NA",))
    got = {r["i"]: (r["x"], r["n"], r["s"]) for r in back.collect()}
    for i, a, b, c in rows:
        ga, gb, gc = got[i]
        # doubles survive to 15 significant digits (they were rounded
        # to 6 decimals before write, so equality is exact here)
        assert ga == pytest.approx(a, rel=1e-13), (a, ga, dec, sep)
        assert gb == b
        assert (gc or "") == c  # empty string reads back as NULL
