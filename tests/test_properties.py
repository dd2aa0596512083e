"""Property-based tests (hypothesis) for the semantically-trickiest
operators: merge-upsert last-write-wins, within-batch keep-last, the
cleaning pipeline's idempotence, and MinHash's similarity-estimation
property. Each property is checked against a trivially-correct Python
model of the same semantics.
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings, strategies as st, HealthCheck

from pyspark.sql import Observation
from pyspark.sql import functions as F

from calaveras_uniteus_etl_spark.operators.upsert import merge_upsert, upsert_stats

_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

_keys = st.integers(min_value=0, max_value=9)
_vals = st.text(alphabet="abcxyz", min_size=0, max_size=4)


@settings(**_SETTINGS)
@given(
    existing=st.lists(st.tuples(_keys, _vals), max_size=12),
    incoming=st.lists(st.tuples(_keys, _vals), max_size=12),
)
def test_merge_upsert_matches_python_model(spark, existing, incoming):
    """Merged table == dict-model: existing overlaid by incoming
    (last occurrence wins within the batch)."""
    ex_model = {}
    for k, v in existing:
        ex_model[k] = v  # existing itself modeled as already keyed: dedupe first
    existing_unique = list(ex_model.items())

    model = dict(ex_model)
    for k, v in incoming:
        model[k] = v

    ex_df = spark.createDataFrame(
        existing_unique or [(None, None)], "k int, v string"
    ).filter(F.col("k").isNotNull())
    in_df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(incoming)] or [(None, None, None)],
        "_ord long, k int, v string",
    ).filter(F.col("k").isNotNull())

    merged = merge_upsert(
        ex_df, in_df.select("k", "v", "_ord"), ["k"], order_col="_ord"
    ).drop("_ord")
    got = {r["k"]: r["v"] for r in merged.collect()}
    assert got == model
    # key-uniqueness invariant
    assert merged.count() == merged.select("k").distinct().count()


@settings(**_SETTINGS)
@given(rows=st.lists(st.tuples(_keys, _vals), min_size=1, max_size=15))
def test_dedupe_keep_last_is_last_occurrence(spark, rows):
    """A batch merged into an empty table (a first load) keeps each
    key's last line."""
    empty = spark.createDataFrame([], "k int, v string")
    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "_ord long, k int, v string"
    )
    merged = merge_upsert(empty, df, ["k"], order_col="_ord")
    out = {r["k"]: r["v"] for r in merged.collect()}
    model = {}
    for k, v in rows:
        model[k] = v
    assert out == model


@settings(**_SETTINGS)
@given(
    existing=st.sets(_keys, max_size=8),
    incoming=st.lists(_keys, max_size=10),
)
def test_upsert_stats_partition(spark, existing, incoming):
    """inserted + updated == distinct incoming keys; updated == overlap.
    The counts come from the merge's own observation, filled by one
    write (an empty ``existing`` is the first load)."""
    ex_df = spark.createDataFrame(
        [(k, "old") for k in existing] or [(None, None)], "k int, v string"
    ).filter(F.col("k").isNotNull())
    in_df = spark.createDataFrame(
        [(k, "new") for k in incoming] or [(None, None)], "k int, v string"
    ).filter(F.col("k").isNotNull())
    observation = Observation()
    merged = merge_upsert(ex_df, in_df, ["k"], observation=observation)
    merged.write.format("noop").mode("overwrite").save()
    stats = upsert_stats(observation)
    distinct_in = set(incoming)
    assert stats.updated == len(distinct_in & existing)
    assert stats.inserted == len(distinct_in - existing)


@settings(**_SETTINGS)
@given(
    text=st.text(
        alphabet=" abcdef\t\n'ʼ", min_size=0, max_size=40
    )
)
def test_cleaning_normalization_idempotent(spark, text):
    """clean∘clean == drop_all_null∘clean: a first pass may normalize a
    row to all-NULL (e.g. whitespace-only fields), which a second pass
    would then drop — beyond that, normalization is idempotent."""
    from calaveras_uniteus_etl_spark.operators.cleaning import (
        clean,
        drop_all_null_rows,
    )

    df = spark.createDataFrame([(text,)], "t string")
    once, _ = clean(df)
    twice, _ = clean(once)
    assert twice.collect() == drop_all_null_rows(once).collect()


def _true_jaccard(a: str, b: str) -> float:
    def sh(t: str) -> set[str]:
        w = " ".join(t.lower().split()).split(" ")
        if len(w) < 3:
            return {" ".join(w)}
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_minhash_estimates_jaccard(spark):
    """Signature agreement approximates true shingle Jaccard: identical
    docs → 1.0; disjoint-vocabulary docs → ~0; a known-overlap pair
    lands within a loose K=12 tolerance."""
    from calaveras_uniteus_etl_spark.operators import dedup as dd

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different vocabulary with zero overlap whatsoever here now"
    docs = [(0, base), (1, base), (2, near), (3, far)]
    d = dd.with_shingles(
        spark.createDataFrame(docs, "doc_id long, text string")
    ).withColumn("hs", dd.shingle_hashes_expr()).withColumn(
        "sig", dd.minhash_sig_expr()
    )
    sigs = {r["doc_id"]: r["sig"] for r in d.select("doc_id", "sig").collect()}

    def est(x, y):
        return sum(a == b for a, b in zip(sigs[x], sigs[y])) / dd.MINHASH_K

    assert est(0, 1) == 1.0
    assert est(0, 3) <= 2 / dd.MINHASH_K  # disjoint vocab: at most noise
    true = _true_jaccard(base, near)
    assert abs(est(0, 2) - true) <= 0.35  # K=12 → coarse but centered


# ---------------------------------------------------------------------------
# Morton interleave (m3): the Spark expression must equal the Python
# bit-interleave model, and the key must be decodable back to both
# coordinates (locality claims depend on the interleave being exact).
# ---------------------------------------------------------------------------


def _py_morton(uid: int, day: int, bits: int = 10) -> int:
    z = 0
    for i in range(bits):
        z |= ((uid >> i) & 1) << (2 * i)
        z |= ((day >> i) & 1) << (2 * i + 1)
    return z


@settings(**_SETTINGS)
@given(
    coords=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1023),
            st.integers(min_value=0, max_value=1023),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_spark_morton_matches_python_model(spark, coords):
    from calaveras_uniteus_etl_spark.plans.queries_aggregates import _spark_morton

    df = spark.createDataFrame(coords, ["uid", "day"]).select(
        "uid", "day", _spark_morton("uid", "day").alias("zkey")
    )
    for r in df.collect():
        z = _py_morton(r.uid, r.day)
        assert r.zkey == z
        # decode round-trip: even bits -> uid, odd bits -> day
        uid = sum(((z >> (2 * i)) & 1) << i for i in range(10))
        day = sum(((z >> (2 * i + 1)) & 1) << i for i in range(10))
        assert (uid, day) == (r.uid, r.day)


# --- batch sessionization (operators/sessions.py) --------------------------


def _session_model(times: list[int], gap: int) -> list[int]:
    """Trivially-correct per-entity session numbering over sorted times."""
    out, sess = [], 0
    prev = None
    for t in sorted(times):
        if prev is None or t - prev > gap:
            sess += 1
        out.append(sess)
        prev = t
    return out


@settings(**_SETTINGS)
@given(
    streams=st.dictionaries(
        st.integers(min_value=0, max_value=3),  # entity id
        st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=12),
        min_size=1,
        max_size=4,
    ),
    gap=st.integers(min_value=1, max_value=100),
)
def test_assign_sessions_matches_python_model(spark, streams, gap):
    """Window-based session numbering == the sorted-scan Python model,
    for every entity, at any gap threshold (ties broken by event id)."""
    from calaveras_uniteus_etl_spark.operators.sessions import assign_sessions

    rows = []
    eid = 0
    for entity, times in streams.items():
        for t in times:
            rows.append((entity, eid, t))
            eid += 1
    df = spark.createDataFrame(rows, "entity int, event_id int, t long")
    got = {
        (r["entity"], r["event_id"]): r["sess_idx"]
        for r in assign_sessions(df, "entity", "t", "event_id", gap).collect()
    }

    for entity, times in streams.items():
        # model over (t, event_id)-sorted rows — same total order as the
        # window; equal timestamps extend the current session
        ordered = sorted(
            [(t, e) for (ent, e, t) in rows if ent == entity]
        )
        expected = _session_model([t for t, _ in ordered], gap)
        for (t, e), want in zip(ordered, expected):
            assert got[(entity, e)] == want, (entity, t, e)


# ---------------------------------------------------------------------------
# epoch_us: Spark value == DuckDB epoch_us on the same naive timestamp,
# for any session timezone (the property that made it replace
# unix_micros).
# ---------------------------------------------------------------------------


@settings(**_SETTINGS)
@given(
    us=st.integers(min_value=0, max_value=2_000_000_000_000_000),  # 1970..2033
)
def test_epoch_us_matches_duckdb(spark, us):
    import datetime as dt

    import duckdb

    from calaveras_uniteus_etl_spark.functions.datetime_ext import epoch_us

    ts = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    got = (
        spark.createDataFrame([(ts,)], "ts timestamp_ntz")
        .select(epoch_us("ts").alias("u"))
        .first()[0]
    )
    want = duckdb.sql(f"SELECT epoch_us(TIMESTAMP '{ts.isoformat(sep=' ')}')").fetchone()[0]
    assert got == want == us


# ---------------------------------------------------------------------------
# resize_fit: aspect-preserving, never upscaling, always inside the box.
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=8192),
    h=st.integers(min_value=1, max_value=8192),
    tw=st.integers(min_value=1, max_value=4096),
    th=st.integers(min_value=1, max_value=4096),
)
def test_resize_fit_invariants(w, h, tw, th):
    from calaveras_uniteus_etl_spark.operators.multimodal import resize_fit

    ow, oh, resized = resize_fit(w, h, tw, th)
    assert resized == (w > tw or h > th)
    # never upscale
    assert ow <= w and oh <= h
    if resized:
        assert ow <= tw and oh <= th
        # the binding side is tight
        assert ow == tw or oh == th
        # aspect preserved within integer-floor tolerance on the free side
        if ow == tw:
            assert oh == (h * tw) // w
        else:
            assert ow == (w * th) // h
    else:
        assert (ow, oh) == (w, h)


# ---------------------------------------------------------------------------
# sqlite_week: exhaustive parity with DuckDB's C-semantics strftime
# '%Y-W%W' for EVERY day 1996-01-01..2026-12-31 (~11.3k days). Year
# boundaries are the classic divergence point between %W and ISO
# weekofyear (SURVEY §7.3 flags this as the likeliest future
# hash-mismatch source), so the sweep is exhaustive rather than
# sampled — one Spark job, one DuckDB query, full join on the day.
# ---------------------------------------------------------------------------


def test_sqlite_week_matches_duckdb_every_day_1996_2026(spark):
    import duckdb

    from calaveras_uniteus_etl_spark.functions.datetime_ext import sqlite_week

    got = {
        r["d"]: r["w"]
        for r in spark.sql(
            "SELECT explode(sequence(DATE'1996-01-01', DATE'2026-12-31')) AS d"
        )
        .select(F.col("d").cast("string").alias("d"), sqlite_week(F.col("d").cast("timestamp_ntz")).alias("w"))
        .collect()
    }
    want = dict(
        duckdb.sql(
            "SELECT CAST(CAST(d AS DATE) AS VARCHAR), strftime(d, '%Y-W%W') FROM "
            "generate_series(DATE '1996-01-01', DATE '2026-12-31', INTERVAL 1 DAY) t(d)"
        ).fetchall()
    )
    assert len(got) == len(want) == 11323
    mismatches = {d: (got[d], want[d]) for d in want if got[d] != want[d]}
    assert not mismatches, dict(list(mismatches.items())[:5])


# ---------------------------------------------------------------------------
# q-gram count-filter losslessness (x86's candidate bound)
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _tagged_bigrams(s: str):
    from collections import Counter

    seen = Counter()
    out = set()
    for i in range(len(s) - 1):
        g = s[i : i + 2]
        seen[g] += 1
        out.add((g, seen[g]))
    return out


@settings(**_SETTINGS)
@given(
    a=st.text(alphabet="abcdef ", min_size=6, max_size=14),
    b=st.text(alphabet="abcdef ", min_size=6, max_size=14),
)
def test_count_filter_bound_never_drops_a_true_pair(a, b):
    """The theorem x86 relies on (Gravano 2001): if ed(a,b) ≤ 2, the
    occurrence-tagged bigram overlap is ≥ max(|a|,|b|) − 1 − 2·2.
    Hypothesis probes random strings, including heavy-repeat ones
    where multiset semantics matter."""
    if _lev(a, b) > 2:
        return
    shared = len(_tagged_bigrams(a) & _tagged_bigrams(b))
    bound = max(len(a), len(b)) - 1 - 4
    assert shared >= bound


# ---------------------------------------------------------------------------
# NTILE formula equivalence (g8/g17/g19's tile arithmetic)
# ---------------------------------------------------------------------------


@settings(**_SETTINGS)
@given(
    total=st.integers(min_value=1, max_value=200),
    n=st.integers(min_value=1, max_value=12),
)
def test_ntile_formula_matches_sql_semantics(total, n):
    """ntile_from_rank must reproduce SQL NTILE exactly: first
    (total mod n) tiles one row larger, sizes differ by ≤ 1, tiles
    monotone in rank."""
    q, r = divmod(total, n)

    def sql_ntile(rank):
        # reference semantics: distribute remainder to leading tiles
        threshold = r * (q + 1)
        if rank <= threshold:
            return (rank - 1) // (q + 1) + 1
        return r + (rank - threshold - 1) // q + 1

    tiles = [sql_ntile(k) for k in range(1, total + 1)]
    assert tiles == sorted(tiles)
    from collections import Counter

    sizes = Counter(tiles)
    assert max(sizes.values()) - min(sizes.values()) <= 1
    if total >= n:
        assert set(sizes) == set(range(1, n + 1))


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
    ),
    parts=st.integers(min_value=1, max_value=7),
)
def test_prefix_fold_min_property(spark, vals, parts):
    """Two-phase prefix-min == naive running min for arbitrary data
    and partition counts (inclusive frame)."""
    from calaveras_uniteus_etl_spark.operators.prefix import prefix_fold_min

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    got = {
        r["id"]: r["m"]
        for r in prefix_fold_min(
            df, [F.asc("id")], "v", out_col="m", partitions=parts
        ).collect()
    }
    run = None
    for i, v in enumerate(vals):
        run = v if run is None else min(run, v)
        assert got[i] == run


# ---------------------------------------------------------------------------
# Round-6 closed forms: water-filling level and histogram quantiles
# ---------------------------------------------------------------------------


def _waterfill(ns: list[int], pct: int):
    """Python mirror of x121's closed-form solver (integer semantics)."""
    s = len(ns)
    total = sum(ns)
    b = total * pct // 100
    order = sorted(range(s), key=lambda i: (ns[i], i))
    cum = 0
    level, rem = None, 0
    for k, i in enumerate(order):
        remaining = s - k
        lvl = (b - cum) // remaining
        prev = ns[order[k - 1]] if k > 0 else None
        if ns[i] > lvl and (prev is None or prev <= lvl):
            level, rem = lvl, b - cum - lvl * remaining
            break
        cum += ns[i]
    if level is None:
        return list(ns), None  # budget covers everything
    quotas = [min(n, level) for n in ns]
    capped = sorted(
        (i for i in range(s) if ns[i] > level), key=lambda i: (-ns[i], i)
    )
    for j, i in enumerate(capped):
        if j < rem:
            quotas[i] += 1
    return quotas, level


@given(
    ns=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1,
                max_size=40),
    pct=st.integers(min_value=1, max_value=99),
)
@settings(max_examples=300, deadline=None)
def test_waterfill_closed_form_properties(ns, pct):
    total = sum(ns)
    b = total * pct // 100
    quotas, level = _waterfill(ns, pct)
    assert all(0 <= q <= n for q, n in zip(quotas, ns))
    if level is None:
        # only possible when the budget covers every token
        assert b >= total
        assert quotas == ns
        return
    assert sum(quotas) == b  # exact spend, remainder included
    # the closed-form level is the brute-force maximal feasible level
    def spend(lv):
        return sum(min(n, lv) for n in ns)
    assert spend(level) <= b
    assert spend(level + 1) + 0 >= b  # one more level would overspend
    # monotonicity: a larger source never gets a smaller quota
    for (na, qa) in zip(ns, quotas):
        for (nb, qb) in zip(ns, quotas):
            if na >= nb:
                assert qa >= qb - 1  # +1 remainder can break ties by 1 only


def _hist_quantile(cents: list[int], q: int, bins=256, domain=60_000_000):
    """Python mirror of x120's integer interpolation."""
    w = domain // bins
    hist = {}
    for c in cents:
        hist[min(c // w, bins - 1)] = hist.get(min(c // w, bins - 1), 0) + 1
    n = len(cents)
    rank = (q * n + 99) // 100
    cum = 0
    for b in sorted(hist):
        if cum < rank <= cum + hist[b]:
            return b * w + (rank - cum) * w // hist[b]
        cum += hist[b]
    raise AssertionError("rank not located")


@given(
    cents=st.lists(
        st.integers(min_value=0, max_value=59_999_999), min_size=1,
        max_size=500,
    ),
    q=st.sampled_from([25, 50, 75, 90, 99]),
)
@settings(max_examples=300, deadline=None)
def test_histogram_quantile_within_one_bin(cents, q):
    w = 60_000_000 // 256
    est = _hist_quantile(cents, q)
    ordered = sorted(cents)
    rank = (q * len(cents) + 99) // 100
    exact = ordered[rank - 1]  # quantile_disc: value at the target rank
    assert abs(est - exact) <= w
