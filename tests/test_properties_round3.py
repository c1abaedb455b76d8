"""Property-based differentials (hypothesis) for the round-3 operators:

* ``pagerank_fixed_point`` agrees with a pure-Python integer reference
  on arbitrary small directed graphs — every floor, every round.
* ``point_in_time_topk`` agrees with a brute-force Python reference on
  arbitrary keyed timelines (horizon, k-cut, tie-break).
* ``source_divergence`` TV distance agrees with the exact-fraction
  Python computation on arbitrary token corpora.
* portable MinHash signatures agree with a pure-Python rendering of the
  same LCG-permutation family (drift here silently breaks every
  portable-twin oracle).
"""

from __future__ import annotations

import datetime as dt
from fractions import Fraction

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from movie_data_etl_pipeline_spark.functions import portable_hash as ph
from movie_data_etl_pipeline_spark.operators import dedup, graph, joins, text_analysis

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

edges_st = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=30,
    unique=True,
)


def _py_pagerank(edges, iters=3, scale=graph.SCALE):
    nodes = sorted({n for e in edges for n in e})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = 3 * scale // 20
    rank = {n: scale for n in nodes}
    for _ in range(iters):
        contrib = {n: 0 for n in nodes}
        for s, d in edges:
            contrib[d] += rank[s] // outdeg[s]
        rank = {n: base + (17 * contrib[n]) // 20 for n in nodes}
    return rank


@given(edges=edges_st)
@settings(**SETTINGS)
def test_pagerank_matches_python_reference(spark, edges):
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    got = {r["node"]: r["rank"] for r in graph.pagerank_fixed_point(df, iters=3).collect()}
    assert got == _py_pagerank(edges)


timeline_st = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 500)),  # (key, seconds offset)
    min_size=1,
    max_size=25,
)


@given(lefts=timeline_st, rights=timeline_st, k=st.integers(1, 3))
@settings(**SETTINGS)
def test_pit_topk_matches_python_reference(spark, lefts, rights, k):
    t0 = dt.datetime(2024, 3, 1)
    horizon_s = 100
    lrows = [(i, key, t0 + dt.timedelta(seconds=s)) for i, (key, s) in enumerate(lefts)]
    rrows = [
        (1000 + i, key, t0 + dt.timedelta(seconds=s)) for i, (key, s) in enumerate(rights)
    ]
    ldf = spark.createDataFrame(lrows, "event_id LONG, user_id LONG, ts TIMESTAMP")
    rdf = spark.createDataFrame(rrows, "event_id LONG, user_id LONG, ts TIMESTAMP")
    out = joins.point_in_time_topk(
        ldf, rdf, on=["user_id"], left_ts="ts", right_ts="ts", right_seq="event_id",
        k=k, horizon_micros=horizon_s * 1_000_000,
    ).collect()
    got = sorted((r["event_id"], r["pit_rank"], r["event_id_r"]) for r in out)
    want = []
    for lid, lkey, lts in lrows:
        cands = [
            (rts, rid)
            for rid, rkey, rts in rrows
            if rkey == lkey and lts - dt.timedelta(seconds=horizon_s) <= rts <= lts
        ]
        cands.sort(key=lambda c: (c[0], c[1]), reverse=True)
        for rank, (_, rid) in enumerate(cands[:k], start=1):
            want.append((lid, rank, rid))
    assert got == sorted(want)


corpus_st = st.lists(
    st.tuples(st.sampled_from(["s1", "s2", "s3"]), st.text(alphabet="abc ", min_size=1, max_size=12)),
    min_size=1,
    max_size=15,
).filter(lambda rows: any(t.strip() for _, t in rows))


@given(rows=corpus_st)
@settings(**SETTINGS)
def test_source_divergence_tv_matches_fractions(spark, rows):
    df = spark.createDataFrame(
        [(i, srcv, t) for i, (srcv, t) in enumerate(rows)],
        "doc_id LONG, source STRING, text STRING",
    )
    got = {r["source"]: r["tv_dist"] for r in text_analysis.source_divergence(df).collect()}
    counts: dict[str, dict[str, int]] = {}
    for srcv, t in rows:
        for tok in t.split():
            counts.setdefault(srcv, {}).setdefault(tok, 0)
            counts[srcv][tok] += 1
    total: dict[str, int] = {}
    for c in counts.values():
        for tok, n in c.items():
            total[tok] = total.get(tok, 0) + n
    t_all = sum(total.values())
    for srcv, c in counts.items():
        t_s = sum(c.values())
        tv = sum(
            abs(Fraction(c.get(tok, 0), t_s) - Fraction(n, t_all)) for tok, n in total.items()
        ) / 2
        assert abs(got[srcv] - float(tv)) < 2e-6


@given(words=st.lists(st.text(alphabet="abcd", min_size=1, max_size=4), min_size=3, max_size=12))
@settings(**SETTINGS)
def test_portable_minhash_signature_matches_python(spark, words):
    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id LONG, text STRING")
    sh = dedup._shingle_sets(df, "doc_id", "text", 3, family=dedup.PORTABLE).collect()
    toks = text.split()
    shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    def py_hash(s):
        h = 0
        for ch in s:
            h = (h * ph.BASE + ord(ch)) % ph.P
        return h

    want = sorted({py_hash(s) for s in shingles})
    if not want:
        assert sh == []
        return
    assert sh[0]["sh"] == want
    # signature slots = LCG minima
    sig_rows = (
        dedup._minhash_banded(
            dedup._shingle_sets(df, "doc_id", "text", 3, family=dedup.PORTABLE),
            num_hashes=8, bands=2, family=dedup.PORTABLE,
        )
        .collect()
    )
    assert len(sig_rows) == 2  # two bands for the single doc
    for row in sig_rows:
        b = row["band"]
        slots = []
        for i in range(b * 4, b * 4 + 4):
            a, c = ph.perm_coeffs(i)
            slots.append(min((a * x + c) % ph.P for x in want))
        folded = 0
        for s in slots:
            folded = (folded * ph.BASE + s) % ph.P
        assert row["bucket"] == folded
