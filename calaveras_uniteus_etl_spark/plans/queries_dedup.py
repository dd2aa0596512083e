"""Deduplication operator inventory (driver north-star extensions).

Training-data-pipeline dedup over the ``documents`` table: exact
(hash-groupBy), plus near-dup families (MinHash+LSH, SimHash, n-gram
Jaccard) built on the cross-engine ``md5_long`` hash so every stage is
oracle-checkable. Library implementations live in
``operators/dedup.py``; the registry entries here drive them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as WindowSpec

from calaveras_uniteus_etl_spark.operators import dedup as dd
from calaveras_uniteus_etl_spark.plans.catalog import register
from calaveras_uniteus_etl_spark.plans._session_index import (
    materialize,
    session_index,
)
from calaveras_uniteus_etl_spark.plans.tables import table

# ---------------------------------------------------------------------------
# X1 — exact dedup by content hash (hash-groupBy; scalable: one shuffle
#      on the digest, never on the full text)
# ---------------------------------------------------------------------------


@register(
    "x1_dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS copies
FROM documents
GROUP BY md5(text)
HAVING COUNT(*) > 1
""",
    doc="Exact duplicate groups: md5(content) → keeper + copy count.",
)
def x1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("copies"))
        .filter(F.col("copies") > 1)
    )


@register(
    "x1_dedup_exact_survivors",
    oracle="""
SELECT COUNT(*) AS total_docs,
       COUNT(DISTINCT md5(text)) AS unique_docs,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS removed
FROM documents
""",
    doc="Exact-dedup summary: survivor/removed counts.",
)
def x1_dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("total_docs"),
        F.countDistinct(F.md5("text")).alias("unique_docs"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("removed"),
    )


# ---------------------------------------------------------------------------
# X2 — MinHash signatures + LSH candidate pairs
#
# Scale shape: signatures are K=12 longs per doc; the LSH join shuffles
# on (band, band_key) — never on document text — so candidate volume is
# governed by the band/row split, not corpus size. See operators/dedup.py.
# ---------------------------------------------------------------------------

_EST_MIN = 0.5  # estimated-Jaccard acceptance threshold

# Mega-bucket guard for every LSH-style candidate miner: a bucket with
# B members contributes B(B−1)/2 pairs, so one boilerplate-heavy bucket
# (identical headers, templated text) can dominate the whole join at
# corpus scale. Buckets above the cap are dropped — their members are
# near-certainly mutual near-dups reachable through their OTHER bands/
# tables, and the cap turns a quadratic tail into a bounded one. At the
# test SFs no bucket comes near the cap, so results are unchanged; the
# predicate exists so the SAME plan survives 100×. Mirrored verbatim in
# each oracle.
BUCKET_CAP = 1000


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread across cores before CPU-heavy hashing.

    The synthetic table arrives as one parquet file → one partition;
    signature/fingerprint projections are md5-dense, so repartition
    first (tiny shuffle of raw text, then fully parallel compute). At
    real scale the source is already many splits and Spark elides
    nothing — the repartition is a no-op cost-wise relative to the
    hash work it parallelizes.
    """
    par = spark.sparkContext.defaultParallelism
    return table(spark, sf_dir, "documents").repartition(par, "doc_id")


def _shingle_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, g): exploded 60-bit shingle-digest postings, built once
    per corpus (session-index registry, the _vec_index contract).

    Eight queries (x4, x26, x65, x66, x72, x73, x113, x141) build this
    exact relation — normalize + word-3-shingle + one md5 fold per
    shingle — independently; at 100 TB each rebuild re-reads and
    re-hashes the whole corpus, which is precisely the anti-pattern
    the registry exists to remove. Digest multiplicity is preserved
    (no distinct), so every consumer's counts are unchanged.
    """
    return session_index(
        spark,
        sf_dir,
        "shingle_postings",
        lambda: materialize(
            dd.with_shingles(_docs_wide(spark, sf_dir)).select(
                "doc_id", F.explode(dd.shingle_digests_expr()).alias("g")
            )
        ),
    )


# Broadcast ceiling for the df-cap anti-join's build side (x4/x65).
# The over-cap digest set has a PROVABLE upper bound — a digest needs
# > BUCKET_CAP postings to qualify, so #over_cap <= n_postings /
# BUCKET_CAP — and the gate compares that bound, not an optimizer
# estimate, against this ceiling (guide §3.2: broadcast only when the
# small side is provably small). 4M bigint keys ~= 64 MB hashed; past
# that the anti-join falls back to a shuffle (no hint), where AQE still
# picks the strategy from runtime sizes. At the driver's SFs the bound
# is tiny, so the broadcast plan is unchanged.
_OVERCAP_BROADCAST_MAX_ROWS = 4_000_000


def _postings_count(spark: SparkSession, sf_dir: str) -> int:
    """Exact posting count of the session shingle index, computed once
    per corpus (one count job over the checkpointed leaf) and reused by
    every df-cap gate."""
    return session_index(
        spark,
        sf_dir,
        "shingle_postings_count",
        lambda: _shingle_postings(spark, sf_dir).count(),
    )


def _df_capped_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting list with over-cap (df > BUCKET_CAP) digests removed.

    The cap is a hash aggregate over the session postings leaf plus an
    anti-join — broadcast when the bound on the over-cap set fits
    comfortably, shuffle otherwise (at 100 TB with heavy boilerplate
    the over-cap set can outgrow a broadcast relation). A shingle in D
    docs adds D(D-1)/2 shared-pair increments downstream, so this gate
    is what keeps the x4/x65 self-joins from going quadratic; inactive
    at the driver's SFs (max df 25 at sf0.1).
    """
    sh_all = _shingle_postings(spark, sf_dir)
    over_cap = (
        sh_all.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > BUCKET_CAP)
        .select("g")
    )
    bound = _postings_count(spark, sf_dir) // BUCKET_CAP
    if bound <= _OVERCAP_BROADCAST_MAX_ROWS:
        over_cap = F.broadcast(over_cap)
    return sh_all.join(over_cap, "g", "left_anti")


def _spark_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = dd.with_shingles(_docs_wide(spark, sf_dir))
    return (
        d.withColumn("hs", dd.shingle_hashes_expr())
        .withColumn("sig", dd.minhash_sig_expr())
        .select("doc_id", "sig")
    )


def _sigs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed MinHash signature relation, built once per session.

    The signatures are a corpus INDEX (K md5-minima per doc): every
    LSH consumer — pair mining, incremental probe, band planning —
    reads the same materialization instead of re-hashing the corpus
    per query (see plans/_session_index.py for the registry contract).
    """
    return session_index(
        spark,
        sf_dir,
        "minhash_sigs",
        lambda: materialize(_spark_sigs(spark, sf_dir)),
    )


_DUCK_SIGS = f"""
WITH {dd.duck_shingles_cte()}, shash AS (
  SELECT doc_id, {dd.duck_shingle_hashes_sql()} AS hs FROM shing
), sigs AS (
  SELECT doc_id, {dd.duck_minhash_sig_sql()} AS sig FROM shash
)"""


@register(
    "x2_minhash_signatures",
    oracle=_DUCK_SIGS
    + "\nSELECT doc_id, array_to_string(sig, '-') AS sig_str FROM sigs",
    doc="Per-document MinHash signature (K=12 md5-family minima over "
    "word-3-shingles), serialized to a scalar string — the harness "
    "canon sorts/hashes scalar cells, not lists.",
)
def x2_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_sigs(spark, sf_dir).select(
        "doc_id", F.array_join("sig", "-").alias("sig_str")
    )


# Shared CTE chain: signatures → bands → capped buckets → distinct
# candidate pairs carrying both signatures. Reused by the x2 pair
# oracle and the x33 source-overlap oracle.
_DUCK_PAIR_CTES = (
    _DUCK_SIGS
    + f""", bands AS (
  SELECT doc_id, sig, t.b AS band, {dd.duck_band_key_sql()} AS band_key
  FROM sigs CROSS JOIN (SELECT unnest(range({dd.LSH_BANDS})) AS b) t
), ok AS (
  SELECT band, band_key FROM bands GROUP BY band, band_key
  HAVING COUNT(*) <= 1000
), bands_ok AS (
  SELECT bands.* FROM bands JOIN ok USING (band, band_key)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
  FROM bands_ok a JOIN bands_ok b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""
)


def _lsh_pair_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with integer signature-match counts.

    Returns (doc_a, doc_b, nm) where nm is the number of agreeing
    MinHash slots — kept as an exact integer so downstream aggregates
    (x33's per-source averages) can sum it deterministically instead of
    averaging doubles. Session-indexed: the scored candidate-pair
    relation is the near-dup GRAPH every dedup analysis walks (pairs,
    components, splits, k-hop) — built once per corpus, id pairs +
    one int per row.
    """
    return session_index(
        spark, sf_dir, "lsh_pair_nm", lambda: _lsh_pair_build(spark, sf_dir)
    )


def _lsh_pair_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return materialize(_lsh_pair_plan(spark, sf_dir))


def _lsh_pair_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY pair-mining plan — split from the build so the plan
    lint can walk it (the checkpoint hides it behind a leaf)."""
    # Session-indexed signatures: the LSH self-join reads both sides
    # (and the candidate join-back) from ONE materialization, and every
    # other signature consumer in the registry shares it.
    sigs = _sigs_index(spark, sf_dir)
    bands = sigs.select(
        "doc_id", F.posexplode(dd.band_keys_expr()).alias("band", "band_key")
    )
    ok = (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").alias("bc"))
        .filter(F.col("bc") <= BUCKET_CAP)
        .drop("bc")
    )
    # capped band keys feed two downstream consumers (self-join
    # sides / new-old split) — pin so the posexplode + cap join run
    # once, not per consumer
    bands = bands.join(ok, ["band", "band_key"]).localCheckpoint(
        eager=True
    )
    a, b = bands.alias("a"), bands.alias("b")
    # distinct over bare id pairs — never over the signature arrays
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = cand.join(
        sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")), "doc_a"
    ).join(sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")), "doc_b")
    nm = F.expr(
        f"size(filter(sequence(0, {dd.MINHASH_K - 1}), i -> sa[i] = sb[i]))"
    )
    return pairs.select("doc_a", "doc_b", nm.alias("nm"))


@register(
    "x2_minhash_lsh_pairs",
    oracle=_DUCK_PAIR_CTES
    + f"""
SELECT doc_a, doc_b,
       ROUND(CAST(len(list_filter(range({dd.MINHASH_K}), i -> sa[i+1] = sb[i+1])) AS DOUBLE)
             / {dd.MINHASH_K}, 4) AS est_sim
FROM cand
WHERE CAST(len(list_filter(range({dd.MINHASH_K}), i -> sa[i+1] = sb[i+1])) AS DOUBLE)
      / {dd.MINHASH_K} >= {_EST_MIN}
""",
    doc="MinHash+LSH near-dup pairs: band-bucket join (4 bands × 3 rows) "
    "→ distinct candidates → signature-estimated Jaccard ≥ 0.5.",
)
def x2_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _lsh_pair_matches(spark, sf_dir)
    est = F.col("nm").cast("double") / dd.MINHASH_K
    return p.select(
        "doc_a", "doc_b", F.round(est, 4).alias("est_sim")
    ).filter(est >= _EST_MIN)


# ---------------------------------------------------------------------------
# X33 — cross-source near-dup overlap matrix
#
# The corpus-curation question behind dedup: WHICH sources duplicate
# each other (e.g. a web crawl re-hosting a books corpus)? Near-dup
# pairs from the LSH miner are joined onto the per-doc source label and
# rolled up per unordered source pair. Scale shape: the pair relation
# is already bounded by the band/bucket cap; the source join ships only
# (doc_id, source) — the matrix itself is #sources², tiny.
# ---------------------------------------------------------------------------

_X33_MIN_NM = 6  # same acceptance bar as x2: nm/K >= 0.5  <=>  nm >= 6


@register(
    "x33_source_overlap",
    oracle=_DUCK_PAIR_CTES
    + f""", pairs AS (
  SELECT doc_a, doc_b,
         len(list_filter(range({dd.MINHASH_K}), i -> sa[i+1] = sb[i+1])) AS nm
  FROM cand
), accepted AS (
  SELECT * FROM pairs WHERE nm >= {_X33_MIN_NM}
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       COUNT(*) AS pair_count,
       ROUND(CAST(SUM(nm) AS DOUBLE) / ({dd.MINHASH_K} * COUNT(*)), 4) AS avg_sim
FROM accepted
JOIN documents da ON da.doc_id = accepted.doc_a
JOIN documents db ON db.doc_id = accepted.doc_b
GROUP BY least(da.source, db.source), greatest(da.source, db.source)
ORDER BY pair_count DESC, source_a, source_b
""",
    doc="Cross-source near-dup overlap matrix: LSH pairs joined onto "
    "per-doc source labels, rolled up per unordered source pair with "
    "an exact-integer average similarity (sum of match counts, one "
    "double division at the end).",
)
def x33_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _lsh_pair_matches(spark, sf_dir).filter(F.col("nm") >= _X33_MIN_NM)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    joined = p.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")),
        "doc_a",
    ).join(
        src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")),
        "doc_b",
    )
    return (
        joined.groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(
            F.count("*").alias("pair_count"),
            F.round(
                F.sum("nm").cast("double") / (dd.MINHASH_K * F.count("*")), 4
            ).alias("avg_sim"),
        )
        .orderBy(F.desc("pair_count"), "source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# X3 — SimHash fingerprints + banded hamming pairs
# ---------------------------------------------------------------------------

_HAMMING_MAX = 6


@register(
    "x3_simhash",
    oracle=f"""
WITH {dd.duck_shingles_cte()}, hashes AS (
  SELECT b.doc_id, {dd.duck_token_hash_sql()} AS hs
  FROM base b
)
SELECT doc_id, {dd.duck_simhash_sql()} AS simhash FROM hashes
""",
    doc="32-bit SimHash fingerprint: per-token md5-derived hashes, "
    "majority bit vote — built-in array exprs only.",
)
def _simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) session artifact: the md5-per-token fingerprint
    pass runs ONCE per corpus. Three query paths rebuild this exact
    relation per invocation otherwise — x3_simhash, x3_simhash_pairs,
    and x114_dedup_strategy_matrix (via the pairs) — re-reading and
    re-hashing the whole corpus each time (the registry's
    anti-pattern). Timed in bench.py's index-build phase."""

    def build() -> DataFrame:
        d = dd.with_shingles(_docs_wide(spark, sf_dir))
        hs, sim = dd.simhash_exprs()
        return materialize(
            d.withColumn("hs", hs).select("doc_id", sim.alias("simhash"))
        )

    return session_index(spark, sf_dir, "simhash_fp", build)


@register(
    "x3_simhash_pairs",
    oracle=f"""
WITH {dd.duck_shingles_cte()}, hashes AS (
  SELECT b.doc_id, {dd.duck_token_hash_sql()} AS hs FROM base b
), fp AS (
  SELECT doc_id, {dd.duck_simhash_sql()} AS simhash FROM hashes
), bands AS (
  SELECT doc_id, simhash, t.k AS band, (simhash // power(256, t.k)::BIGINT) % 256 AS byte
  FROM fp CROSS JOIN (SELECT unnest(range({dd.SIMHASH_BYTE_BANDS})) AS k) t
)
, ok AS (
  SELECT band, byte FROM bands GROUP BY band, byte HAVING COUNT(*) <= 1000
), bands_ok AS (
  SELECT bands.* FROM bands JOIN ok USING (band, byte)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM bands_ok a JOIN bands_ok b
  ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
""",
    doc="SimHash near-dup pairs: byte-band join (any equal byte of the "
    "32-bit fingerprint) → hamming distance ≤ 6.",
)
def x3_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The fingerprint subtree (one md5 per token + 32 bit-vote array
    # passes) is referenced THREE times below — bucket counts plus both
    # self-join sides — and is now a session artifact shared with
    # x3_simhash and x114: the banded join reads a lineage-free leaf
    # built once per corpus.
    fp = _simhash_fp(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                "transform(sequence(0, %d), k -> (simhash div cast(pow(256, k) as bigint)) %% 256)"
                % (dd.SIMHASH_BYTE_BANDS - 1)
            )
        ).alias("band", "byte"),
    )
    ok = (
        bands.groupBy("band", "byte")
        .agg(F.count("*").alias("bc"))
        .filter(F.col("bc") <= BUCKET_CAP)
        .drop("bc")
    )
    bands = bands.join(ok, ["band", "byte"])
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.expr("cast(bit_count(a.simhash ^ b.simhash) as int)")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .distinct()
    )


# ---------------------------------------------------------------------------
# X4 — exact n-gram Jaccard via inverted shingle index
#
# Scale shape: the self-join shuffles on the shingle *digest* (8 bytes),
# not the text; at real scale, posting lists are capped by document
# frequency (stop-shingles add quadratic pairs, near-zero signal).
# ---------------------------------------------------------------------------

_JACCARD_MIN = 0.4


@register(
    "x4_ngram_jaccard",
    oracle=f"""
WITH {dd.duck_shingles_cte()}, sh_all AS (
  SELECT doc_id, unnest({dd.duck_shingle_digests_sql()}) AS g
  FROM shing
), sh AS (
  SELECT doc_id, g FROM (
    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh_all
  ) WHERE df <= 1000
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(c AS DOUBLE) / (x.n + y.n - c), 4) AS jaccard
FROM shared JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= {_JACCARD_MIN}
""",
    doc="Exact word-3-shingle Jaccard: inverted-index join on 60-bit "
    "shingle digests with a df≤1000 posting cap, "
    "|A∩B| / (|A|+|B|−|A∩B|) ≥ 0.4.",
)
def x4_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The inverted index is used three times (both self-join sides +
    # per-doc sizes): materialize it once (eager localCheckpoint). Postings are (doc_id, bigint
    # digest) — the join/shuffle never carries shingle text, and a
    # 60-bit digest makes cross-doc collisions (the only thing that
    # could perturb exactness) a 1-in-2^60 event.
    # Session-indexed postings: the md5-dense digest pass is built once
    # per corpus; the df-cap is a hash aggregate over the leaf + a
    # size-gated anti-join (not a COUNT window's full shuffle + sort).
    # Jaccard is computed over the <=cap shingle universe on BOTH
    # sides (sizes after the filter, so numerator and denominator
    # agree).
    sh = _df_capped_postings(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("x.n") + F.col("y.n") - F.col("c"))
    return (
        shared.join(sizes.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
        .join(sizes.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(jac >= _JACCARD_MIN)
    )


def _duck_reach_sql() -> str:
    """Shared oracle prefix: LSH candidate pairs → symmetric edges →
    WITH RECURSIVE reachability, min-label per node (CTE ``reach``).
    Used by x14 (cluster census) and x55 (representative pick)."""
    return _DUCK_SIGS + f""", bands AS (
  SELECT doc_id, sig, t.b AS band, {dd.duck_band_key_sql()} AS band_key
  FROM sigs CROSS JOIN (SELECT unnest(range({dd.LSH_BANDS})) AS b) t
), ok AS (
  SELECT band, band_key FROM bands GROUP BY band, band_key
  HAVING COUNT(*) <= 1000
), bands_ok AS (
  SELECT bands.* FROM bands JOIN ok USING (band, band_key)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
  FROM bands_ok a JOIN bands_ok b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), pairs AS (
  SELECT doc_a, doc_b FROM cand
  WHERE CAST(len(list_filter(range({dd.MINHASH_K}), i -> sa[i+1] = sb[i+1])) AS DOUBLE)
        / {dd.MINHASH_K} >= {_EST_MIN}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), reach AS (
  WITH RECURSIVE r(node, lbl) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, r.lbl FROM r JOIN edges e ON e.a = r.node
  ) SELECT node, MIN(lbl) AS component FROM r GROUP BY node
)"""


# ---------------------------------------------------------------------------
# X14 — near-dup connected components (keeper selection)
#
# Pair lists aren't actionable until transitively grouped: {A≈B, B≈C}
# must yield ONE keeper for {A,B,C}. Components are computed by min-
# label propagation — iterate "label := min(label, neighbors' labels)"
# to fixpoint — the standard Spark shape for iterative graph algorithms
# without GraphFrames: a driver loop over joins, localCheckpoint per
# round to keep lineage flat. Rounds needed = graph diameter (near-dup
# clusters are shallow; capped at 20). The DuckDB oracle computes the
# same fixpoint with WITH RECURSIVE reachability. Non-SQL-expressible
# in one query on the Spark side, yet still fully oracle-checked.
# ---------------------------------------------------------------------------


@register(
    "x14_neardup_components",
    oracle=_duck_reach_sql()
    + """
SELECT component AS keeper_id,
       COUNT(*) AS member_count,
       COUNT(*) - 1 AS removable
FROM reach
GROUP BY component
""",
    doc="Near-dup connected components over the MinHash-LSH pair graph: "
    "min-label propagation to fixpoint (driver loop over joins, "
    "localCheckpoint per round) → keeper + removable count per cluster; "
    "recursive-CTE oracle.",
)
def x14_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _neardup_labels(spark, sf_dir)
    return labels.groupBy(F.col("lbl").alias("keeper_id")).agg(
        F.count("*").alias("member_count"),
        (F.count("*") - 1).alias("removable"),
    )


def _neardup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation over the LSH pair graph → (node, lbl).

    Session-indexed: the component labels are the dedup family's most
    expensive artifact (an iterative fixpoint), consumed by the
    component census, cluster stats, representatives, and the
    leakage-free splitter — built once per corpus.
    """
    return session_index(
        spark, sf_dir, "neardup_labels", lambda: _neardup_labels_build(spark, sf_dir)
    )


def _label_step(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One LAZY min-label-propagation round: (node, new_lbl, lbl).
    Split from the build loop so the plan lint can walk the step plan
    (each round's checkpoint hides it behind a leaf)."""
    neighbor_min = (
        edges.join(labels, edges.a == labels.node)
        .groupBy(F.col("b").alias("node2"))
        .agg(F.min("lbl").alias("nmin"))
    )
    return labels.join(neighbor_min, labels.node == F.col("node2"), "left").select(
        "node",
        F.least(F.col("lbl"), F.coalesce(F.col("nmin"), F.col("lbl"))).alias(
            "new_lbl"
        ),
        "lbl",
    )


def _neardup_labels_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each round ends in an EAGER localCheckpoint, so the returned plan
    references only checkpointed labels; the pair/edge caches that
    feed the iterations are released on exit (they must not outlive
    the query in a full-registry run)."""
    pairs = x2_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b").cache()
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .cache()
    )
    try:
        labels = edges.select(F.col("a").alias("node")).distinct().select(
            "node", F.col("node").alias("lbl")
        )
        for _ in range(20):  # cap = max expected cluster diameter
            # One materialization per round: checkpoint the (old, new)
            # pair, then both the convergence count and next round's
            # labels read the checkpointed blocks instead of recomputing
            # the join/groupBy pipeline a second time.
            snap = _label_step(edges, labels).localCheckpoint(eager=True)
            changed = snap.filter(F.col("new_lbl") != F.col("lbl")).count()
            labels = snap.select("node", F.col("new_lbl").alias("lbl"))
            if changed == 0:
                break
    finally:
        pairs.unpersist()
        edges.unpersist()
    # re-materialize the final labels as the ARTIFACT leaf: a clean
    # single-leaf relation for the health check (and, under
    # SPARK_GRAFT_INDEX_CHECKPOINT_DIR, a reliable copy — the loop
    # snaps stay local, they are transient build state)
    return materialize(labels)


# ---------------------------------------------------------------------------
# X26 — MinHash estimation-error audit (approximate vs exact, same run)
#
# The question every approximate-dedup deployment has to answer before
# trusting K=12 signatures at corpus scale: how far is the signature
# estimate from the true Jaccard on the pairs it actually surfaces?
# This runs the X2 LSH miner, joins each candidate pair back to its
# exact shingle-set Jaccard (X4's arithmetic, restricted to the
# candidate set — never all-pairs), and reports the error profile.
# Every statistic is computed in integer MICRO-units (round(x*1e6))
# so the per-pair sums are BIGINT — order-independent across
# partitions and engines; the means divide identical operands.
# ---------------------------------------------------------------------------

_MATCH_MIN = int(dd.MINHASH_K * _EST_MIN)  # est >= 0.5 <=> matched rows >= 6


@register(
    "x26_minhash_error",
    oracle=_DUCK_SIGS
    + f""", bands AS (
  SELECT doc_id, sig, t.b AS band, {dd.duck_band_key_sql()} AS band_key
  FROM sigs CROSS JOIN (SELECT unnest(range({dd.LSH_BANDS})) AS b) t
), ok AS (
  SELECT band, band_key FROM bands GROUP BY band, band_key
  HAVING COUNT(*) <= {BUCKET_CAP}
), bands_ok AS (
  SELECT bands.* FROM bands JOIN ok USING (band, band_key)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
  FROM bands_ok a JOIN bands_ok b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), est AS (
  SELECT doc_a, doc_b,
         len(list_filter(range({dd.MINHASH_K}), i -> sa[i+1] = sb[i+1]))
           AS matched
  FROM cand
  WHERE len(list_filter(range({dd.MINHASH_K}), i -> sa[i+1] = sb[i+1]))
        >= {_MATCH_MIN}
), sh AS (
  SELECT doc_id, unnest({dd.duck_shingle_digests_sql()}) AS g FROM shing
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
  FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT e.doc_a, e.doc_b,
         CAST(ROUND(CAST(e.matched AS DOUBLE) / {dd.MINHASH_K} * 1e6) AS BIGINT)
           AS est_micro,
         CAST(ROUND(CAST(COALESCE(i.c, 0) AS DOUBLE)
                    / (sx.n + sy.n - COALESCE(i.c, 0)) * 1e6) AS BIGINT)
           AS exact_micro
  FROM est e
  LEFT JOIN inter i USING (doc_a, doc_b)
  JOIN sizes sx ON e.doc_a = sx.doc_id
  JOIN sizes sy ON e.doc_b = sy.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(est_micro) AS DOUBLE) / (1e6 * COUNT(*)) AS mean_est,
       CAST(SUM(exact_micro) AS DOUBLE) / (1e6 * COUNT(*)) AS mean_exact,
       CAST(SUM(ABS(est_micro - exact_micro)) AS DOUBLE) / (1e6 * COUNT(*))
         AS mean_abs_err,
       CAST(MAX(ABS(est_micro - exact_micro)) AS DOUBLE) / 1e6 AS max_abs_err
FROM scored
""",
    doc="Error profile of the K=12 MinHash estimate vs exact shingle "
    "Jaccard over the LSH candidate pairs — integer micro-unit "
    "arithmetic end-to-end.",
)
def x26_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full K-lane signatures are exactly the session sig index's
    # shape — consume it instead of re-hashing the corpus per query
    sigs = _sigs_index(spark, sf_dir)
    bands = sigs.select(
        "doc_id", F.posexplode(dd.band_keys_expr()).alias("band", "band_key")
    )
    ok = (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").alias("bc"))
        .filter(F.col("bc") <= BUCKET_CAP)
        .drop("bc")
    )
    # capped band keys feed two downstream consumers (self-join
    # sides / new-old split) — pin so the posexplode + cap join run
    # once, not per consumer
    bands = bands.join(ok, ["band", "band_key"]).localCheckpoint(
        eager=True
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = cand.join(
        sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")), "doc_a"
    ).join(sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")), "doc_b")
    matched = F.expr(
        f"size(filter(sequence(0, {dd.MINHASH_K - 1}), i -> sa[i] = sb[i]))"
    )
    est = pairs.select("doc_a", "doc_b", matched.alias("matched")).filter(
        F.col("matched") >= _MATCH_MIN
    )
    # exact Jaccard restricted to candidate docs: the inverted-index
    # self-join re-used from X4, inner-joined to the candidate pairs —
    # never an all-pairs pass
    sh = _shingle_postings(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    x, y = sh.alias("x"), sh.alias("y")
    inter = (
        x.join(y, (F.col("x.g") == F.col("y.g")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("c"))
    )
    scored = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("nx")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("ny")), "doc_b")
        .select(
            F.round(
                F.col("matched").cast("double") / dd.MINHASH_K * 1e6
            ).cast("bigint").alias("est_micro"),
            F.round(
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / (F.col("nx") + F.col("ny") - F.coalesce(F.col("c"), F.lit(0)))
                * 1e6
            ).cast("bigint").alias("exact_micro"),
        )
    )
    err = F.abs(F.col("est_micro") - F.col("exact_micro"))
    return scored.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        (F.sum("est_micro").cast("double") / (1e6 * F.count("*"))).alias("mean_est"),
        (F.sum("exact_micro").cast("double") / (1e6 * F.count("*"))).alias("mean_exact"),
        (F.sum(err).cast("double") / (1e6 * F.count("*"))).alias("mean_abs_err"),
        (F.max(err).cast("double") / 1e6).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# X32 — duplicated-span boilerplate profile (exact-substring dedup)
#
# Corpus-internal exact-substring duplication at word-span granularity:
# the profile a pipeline computes before trimming spans that repeat
# verbatim across documents (boilerplate headers, licence blocks,
# templated text). Distinct from X4 (pairwise document similarity) and
# X18 (overlap against an *external* test set): here the unit is the
# span itself and the signal is its corpus-wide document frequency.
#
# Scale shape: spans are hashed to 60-bit digests inside the projection
# (the shuffle never carries span text); document frequency is one
# groupBy on the digest; the flag joins back on the same digest key so
# AQE can reuse the exchange; the final per-doc rollup shuffles
# (doc_id, two counters). No self-join anywhere — cost is linear in
# total span count, which is linear in corpus words.
# ---------------------------------------------------------------------------

SPAN_WORDS = 8
SPAN_MIN_DOCS = 2  # a span in >= this many distinct docs is boilerplate


def _span_digests_expr() -> str:
    """Spark expr: array of 60-bit digests of positional 8-word spans."""
    n = SPAN_WORDS
    gram = "concat(" + ", ' ', ".join(f"w[i+{j}]" for j in range(n)) + ")"
    return (
        f"case when size(w) >= {n} then "
        f"transform(sequence(0, size(w)-{n}), i -> "
        f"cast(conv(substr(md5(concat('sp:', {gram})), 1, 15), 16, 10) as bigint)) "
        "else array() end"
    )


def _duck_span_digests_sql() -> str:
    """DuckDB twin of :func:`_span_digests_expr` (1-based lists)."""
    from calaveras_uniteus_etl_spark.functions.hashing import duckdb_md5_long_sql

    n = SPAN_WORDS
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    fold = duckdb_md5_long_sql(f"'sp:' || {gram}")
    return (
        f"CASE WHEN len(w) >= {n} THEN "
        f"list_transform(range(1, len(w) - {n - 2}), i -> {fold}) "
        "ELSE [] END"
    )


@register(
    "x32_dup_span_stats",
    oracle=rf"""
WITH base AS (
  SELECT doc_id, {dd.NORM_DUCK.format(col='text')} AS norm FROM documents
), words AS (
  SELECT doc_id, string_split(norm, ' ') AS w FROM base
), ex AS (
  SELECT doc_id, unnest({_duck_span_digests_sql()}) AS g FROM words
), freq AS (
  SELECT g, COUNT(DISTINCT doc_id) AS ddf FROM ex GROUP BY g
), per AS (
  SELECT ex.doc_id,
         COUNT(*) AS n_spans,
         SUM(CASE WHEN ddf >= {SPAN_MIN_DOCS} THEN 1 ELSE 0 END) AS n_dup
  FROM ex JOIN freq USING (g)
  GROUP BY ex.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_spans,
       CASE WHEN COALESCE(n_spans, 0) = 0 THEN 0.0
            ELSE ROUND(n_dup * 1.0 / n_spans, 6) END AS dup_ratio
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
""",
    doc="Exact-substring duplication profile: positional 8-word spans "
    "hashed to 60-bit digests, corpus-wide document frequency per "
    "span, per-document duplicated-span counts and ratio (the "
    "boilerplate-trim signal; Lee et al. 2021 'Deduplicating Training "
    "Data', span-granular approximation).",
)
def x32_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = dd.with_shingles(_docs_wide(spark, sf_dir))
    ex = d.select("doc_id", F.explode(F.expr(_span_digests_expr())).alias("g"))
    freq = ex.groupBy("g").agg(F.countDistinct("doc_id").alias("ddf"))
    per = (
        ex.join(freq, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(
                F.when(F.col("ddf") >= SPAN_MIN_DOCS, 1).otherwise(0)
            ).alias("n_dup"),
        )
    )
    spine = table(spark, sf_dir, "documents").select("doc_id")
    return spine.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.when(F.coalesce("n_spans", F.lit(0)) == 0, F.lit(0.0))
        .otherwise(F.round(F.col("n_dup") / F.col("n_spans"), 6))
        .alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# X34 — Bloom-filter membership (compact broadcast anti-join shape)
#
# The 100 TB incremental-ingest problem: "is this document already in
# the corpus?" without shuffling the corpus. Build a fixed-size Bloom
# filter over the member set with ONE aggregation (bit_or per word —
# 4096 rows total, map-side combined), broadcast it, and probe with a
# tiny join. False positives are possible by construction (the probe
# output reports them honestly); false negatives are not. Both engines
# compute identical md5-derived bit positions, so the filter — and
# therefore every hit/miss — is bit-reproducible.
# ---------------------------------------------------------------------------

_BLOOM_WORDS = 4096  # BIGINT words, 32 bits used per word
_BLOOM_BITS = _BLOOM_WORDS * 32  # 131072 bits: ~0.1% fp at 5k members, k=3
_BLOOM_K = 3


def _bloom_oracle() -> str:
    from calaveras_uniteus_etl_spark.functions.hashing import duckdb_md5_long_sql

    mfold = duckdb_md5_long_sql("cast(i as varchar) || ':' || text")
    pfold = duckdb_md5_long_sql("cast(i as varchar) || ':' || ptext")
    return f"""
WITH seeds AS (SELECT unnest(range({_BLOOM_K})) AS i),
mpos AS (
  SELECT {mfold} % {_BLOOM_BITS} AS p FROM documents CROSS JOIN seeds
),
bloom AS (
  SELECT p // 32 AS word, bit_or(1::BIGINT << (p % 32)) AS bloom_word
  FROM mpos GROUP BY p // 32
),
probes AS (
  SELECT doc_id AS probe_id, text AS ptext, TRUE AS is_member
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, text || ' [novel-probe]', FALSE
  FROM documents WHERE doc_id % 5 = 1
),
ppos AS (
  SELECT probe_id, is_member, {pfold} % {_BLOOM_BITS} AS p
  FROM probes CROSS JOIN seeds
),
checks AS (
  SELECT probe_id, is_member,
         COALESCE((bloom_word & (1::BIGINT << (p % 32)))
                  = (1::BIGINT << (p % 32)), FALSE) AS hit
  FROM ppos LEFT JOIN bloom ON bloom.word = p // 32
)
SELECT probe_id, is_member, bool_and(hit) AS bloom_hit
FROM checks GROUP BY probe_id, is_member
ORDER BY probe_id
"""


def _bloom_positions(text_col):
    """Array of K bit positions for a text column (Spark side)."""
    from calaveras_uniteus_etl_spark.functions.hashing import md5_long_seeded

    return F.array(
        *[md5_long_seeded(text_col, i) % _BLOOM_BITS for i in range(_BLOOM_K)]
    )


@register(
    "x34_bloom_membership",
    oracle=_bloom_oracle(),
    doc="Bloom-filter membership: bit_or-aggregated 131072-bit filter "
    "over md5-seeded positions of every document, broadcast to a probe "
    "set of half members / half novel texts; reports per-probe exact "
    "membership vs filter verdict (false positives possible, false "
    "negatives never).",
)
def x34_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    bits = (
        d.select(F.explode(_bloom_positions(F.col("text"))).alias("p"))
        .select(
            (F.col("p") / 32).cast("long").alias("word"),
            F.expr("shiftleft(1L, cast(p % 32 as int))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bloom_word"))
    )
    members = d.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("probe_id"),
        F.col("text").alias("ptext"),
        F.lit(True).alias("is_member"),
    )
    novel = d.filter(F.col("doc_id") % 5 == 1).select(
        F.col("doc_id").alias("probe_id"),
        F.concat(F.col("text"), F.lit(" [novel-probe]")).alias("ptext"),
        F.lit(False).alias("is_member"),
    )
    ppos = members.unionAll(novel).select(
        "probe_id",
        "is_member",
        F.explode(_bloom_positions(F.col("ptext"))).alias("p"),
    )
    checks = ppos.join(
        F.broadcast(bits),
        (F.col("p") / 32).cast("long") == F.col("word"),
        "left",
    ).select(
        "probe_id",
        "is_member",
        F.coalesce(
            F.expr(
                "(bloom_word & shiftleft(1L, cast(p % 32 as int)))"
                " = shiftleft(1L, cast(p % 32 as int))"
            ),
            F.lit(False),
        ).alias("hit"),
    )
    return (
        checks.groupBy("probe_id", "is_member")
        .agg(F.expr("bool_and(hit)").alias("bloom_hit"))
        .orderBy("probe_id")
    )


# ---------------------------------------------------------------------------
# X35 — LSH threshold sweep (dedup-tuning curve)
#
# Before committing a similarity cutoff at corpus scale you want the
# retention curve: how many candidate pairs survive each threshold.
# One pass over the pair miner's integer match counts — a 7-row
# cumulative rollup, no re-mining per threshold (the naive approach
# re-runs the join once per cutoff).
# ---------------------------------------------------------------------------


@register(
    "x35_lsh_threshold_sweep",
    oracle=_DUCK_PAIR_CTES
    + f""", pairs AS (
  SELECT len(list_filter(range({dd.MINHASH_K}), i -> sa[i+1] = sb[i+1])) AS nm
  FROM cand
), hist AS (
  SELECT nm, COUNT(*) AS cnt FROM pairs WHERE nm >= 6 GROUP BY nm
)
SELECT nm AS min_matches,
       ROUND(CAST(nm AS DOUBLE) / {dd.MINHASH_K}, 4) AS est_sim_threshold,
       CAST(SUM(cnt) OVER (ORDER BY nm DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS pairs_retained
FROM hist
ORDER BY nm
""",
    doc="Dedup threshold-tuning curve: candidate pairs retained at "
    "each signature-match cutoff (6..12 of K=12), one pass over the "
    "LSH miner output — never one re-mining join per threshold.",
)
def x35_lsh_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = (
        _lsh_pair_matches(spark, sf_dir)
        .filter(F.col("nm") >= 6)
        .groupBy("nm")
        .agg(F.count("*").alias("cnt"))
    )
    w = WindowSpec.orderBy(F.desc("nm")).rowsBetween(
        WindowSpec.unboundedPreceding, WindowSpec.currentRow
    )
    return hist.select(
        F.col("nm").alias("min_matches"),
        F.round(F.col("nm").cast("double") / dd.MINHASH_K, 4).alias(
            "est_sim_threshold"
        ),
        F.sum("cnt").over(w).cast("bigint").alias("pairs_retained"),
    ).orderBy("min_matches")


# ---------------------------------------------------------------------------
# X36 — near-dup cluster size distribution
#
# The curation question over x14's components: is duplication mostly
# pairs, or a few giant boilerplate clusters? Sizes beyond the
# histogram's head are what the BUCKET_CAP exists for.
# ---------------------------------------------------------------------------


@register(
    "x36_cluster_size_dist",
    oracle=_DUCK_PAIR_CTES
    + f""", pairs AS (
  SELECT doc_a, doc_b FROM cand
  WHERE CAST(len(list_filter(range({dd.MINHASH_K}), i -> sa[i+1] = sb[i+1])) AS DOUBLE)
        / {dd.MINHASH_K} >= {_EST_MIN}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), reach AS (
  WITH RECURSIVE r(node, lbl) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, r.lbl FROM r JOIN edges e ON e.a = r.node
  ) SELECT node, MIN(lbl) AS component FROM r GROUP BY node
), comp AS (
  SELECT component, COUNT(*) AS csize FROM reach GROUP BY component
)
SELECT csize AS cluster_size,
       COUNT(*) AS n_clusters,
       CAST(csize * COUNT(*) AS BIGINT) AS docs_covered,
       CAST((csize - 1) * COUNT(*) AS BIGINT) AS removable_docs
FROM comp
GROUP BY csize
ORDER BY csize
""",
    doc="Near-dup cluster size histogram over x14's components: how "
    "many clusters of each size, docs covered, and docs removable if "
    "one keeper survives per cluster.",
)
def x36_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = x14_neardup_components(spark, sf_dir)
    return (
        comp.groupBy(F.col("member_count").alias("cluster_size"))
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("docs_covered"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("bigint")
            .alias("removable_docs"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# X45 — split-leakage audit (near-dup pairs straddling train/test)
#
# A hash split (x15) is only sound if near-duplicate documents land on
# the SAME side — a train↔test near-dup pair is evaluation leakage the
# split itself cannot see. This joins the LSH pair miner onto the x15
# split assignment and counts pairs per unordered split pair; any row
# with is_leakage=true is a pair a dedup-aware splitter must collapse
# before splitting. Same scale shape as x33: pairs are already
# bounded; the split join ships (doc_id, split) only.
# ---------------------------------------------------------------------------


def _x45_split_sql() -> str:
    from calaveras_uniteus_etl_spark.functions.hashing import duckdb_md5_long_sql

    b = duckdb_md5_long_sql("'split:' || CAST(doc_id AS VARCHAR)")
    return f"""splits AS (
  SELECT doc_id,
         CASE WHEN {b} % 100 < 90 THEN 'train'
              WHEN {b} % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)"""


@register(
    "x45_split_leakage",
    oracle=_DUCK_PAIR_CTES
    + f""", pairs AS (
  SELECT doc_a, doc_b FROM cand
  WHERE len(list_filter(range({dd.MINHASH_K}), i -> sa[i+1] = sb[i+1])) >= {_X33_MIN_NM}
), {_x45_split_sql()}
SELECT least(a.split, b.split) AS split_a,
       greatest(a.split, b.split) AS split_b,
       a.split <> b.split AS is_leakage,
       COUNT(*) AS pair_count
FROM pairs
JOIN splits a ON a.doc_id = pairs.doc_a
JOIN splits b ON b.doc_id = pairs.doc_b
GROUP BY 1, 2, 3
ORDER BY pair_count DESC, split_a, split_b
""",
    doc="Split-leakage audit: LSH near-dup pairs joined onto the x15 "
    "hash split, counted per unordered split pair — any cross-split "
    "row is evaluation leakage a dedup-aware splitter must collapse "
    "first.",
)
def x45_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _lsh_pair_matches(spark, sf_dir).filter(
        F.col("nm") >= _X33_MIN_NM
    ).select("doc_a", "doc_b")
    bucket = F.expr(
        "cast(conv(substr(md5(concat('split:', cast(doc_id as string))), 1, 15),"
        " 16, 10) as bigint) % 100"
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    splits = table(spark, sf_dir, "documents").select(
        "doc_id", split.alias("split")
    )
    joined = pairs.join(
        splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sp_a")),
        "doc_a",
    ).join(
        splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sp_b")),
        "doc_b",
    )
    return (
        joined.groupBy(
            F.least("sp_a", "sp_b").alias("split_a"),
            F.greatest("sp_a", "sp_b").alias("split_b"),
            (F.col("sp_a") != F.col("sp_b")).alias("is_leakage"),
        )
        .agg(F.count("*").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "split_a", "split_b")
    )


# ---------------------------------------------------------------------------
# X46 — template mining (the top boilerplate spans themselves)
#
# x32 profiles how boilerplate-heavy each DOCUMENT is; this surfaces
# the actual SPANS — the artifact a removal list is built from. Top-25
# span digests by document frequency, with instance counts and the
# lowest carrier doc_id so the span text can be pulled for review.
# Shuffle keys are 60-bit digests; the top-k is TakeOrdered, never a
# global sort of the span relation.
# ---------------------------------------------------------------------------

_X46_TOPK = 25


@register(
    "x46_template_mining",
    oracle=rf"""
WITH base AS (
  SELECT doc_id, {dd.NORM_DUCK.format(col='text')} AS norm FROM documents
), words AS (
  SELECT doc_id, string_split(norm, ' ') AS w FROM base
), ex AS (
  SELECT doc_id, unnest({_duck_span_digests_sql()}) AS g FROM words
)
SELECT g AS span_digest,
       COUNT(DISTINCT doc_id) AS doc_freq,
       COUNT(*) AS instances,
       MIN(doc_id) AS sample_doc
FROM ex
GROUP BY g
HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
ORDER BY doc_freq DESC, instances DESC, span_digest
LIMIT {_X46_TOPK}
""",
    doc=f"Template mining: top-{_X46_TOPK} 8-word span digests by "
    "document frequency (instances and a sample carrier doc "
    "alongside) — the removal list x32's per-doc boilerplate profile "
    "points at.",
)
def x46_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = dd.with_shingles(_docs_wide(spark, sf_dir))
    ex = d.select("doc_id", F.explode(F.expr(_span_digests_expr())).alias("g"))
    return (
        ex.groupBy(F.col("g").alias("span_digest"))
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count("*").alias("instances"),
            F.min("doc_id").alias("sample_doc"),
        )
        .filter(F.col("doc_freq") >= SPAN_MIN_DOCS)
        .orderBy(F.desc("doc_freq"), F.desc("instances"), "span_digest")
        .limit(_X46_TOPK)
    )


# ---------------------------------------------------------------------------
# X52 — quality × duplication matrix (cross-signal calibration)
#
# Do exact duplicates concentrate in low-quality documents? The answer
# decides whether dedup and quality filtering are redundant or
# complementary passes. One text pass derives both signals (x8's
# quality bucket, x1's exact-dup flag via a digest window) and the
# matrix is a four-cell rollup with per-bucket dup rates from exact
# integer operands.
# ---------------------------------------------------------------------------


@register(
    "x52_quality_dup_matrix",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, text, md5(text) AS digest,
         {dd.NORM_DUCK.format(col='text')} AS norm,
         string_split({dd.NORM_DUCK.format(col='text')}, ' ') AS w
  FROM documents
), flags AS (
  SELECT doc_id,
         COUNT(*) OVER (PARTITION BY digest) > 1 AS is_dup,
         CASE WHEN norm = '' THEN 0 ELSE len(w) END AS n_tokens
  FROM toks
), bucketed AS (
  SELECT CASE WHEN n_tokens >= 30 THEN 'good'
              WHEN n_tokens >= 15 THEN 'fair'
              ELSE 'poor' END AS quality_bucket,
         is_dup
  FROM flags
)
SELECT quality_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS dup_rate
FROM bucketed
GROUP BY quality_bucket
ORDER BY quality_bucket
""",
    doc="Quality x duplication calibration: token-count quality bucket "
    "against exact-dup membership (digest window), per-bucket dup "
    "rates from exact integer operands — decides whether dedup and "
    "quality filters are redundant or complementary.",
)
def x52_quality_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents")
    norm = dd.NORM_SPARK.format(col="text")
    flags = (
        d.withColumn("norm", F.expr(norm))
        .withColumn("w", F.expr("split(norm, ' ')"))
        .select(
            "doc_id",
            F.md5("text").alias("digest"),
            F.expr("case when norm = '' then 0 else size(w) end").alias(
                "n_tokens"
            ),
        )
        .withColumn("is_dup", F.count("*").over(W.partitionBy("digest")) > 1)
    )
    bucket = (
        F.when(F.col("n_tokens") >= 30, "good")
        .when(F.col("n_tokens") >= 15, "fair")
        .otherwise("poor")
    )
    dup = F.when(F.col("is_dup"), 1).otherwise(0)
    return (
        flags.groupBy(bucket.alias("quality_bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(dup).cast("bigint").alias("n_dup_docs"),
            (F.sum(dup).cast("double") / F.count("*")).alias("dup_rate"),
        )
        .orderBy("quality_bucket")
    )


# ---------------------------------------------------------------------------
# X53 — incremental near-dup (new batch vs existing corpus)
#
# The daily-ingest variant of x2: only the NEW batch's bands probe the
# corpus index — never a corpus×corpus self-join. The batch is small
# by construction, so its band relation broadcasts and the corpus side
# streams map-side; cost scales with batch size × bucket occupancy,
# independent of corpus history. Each new doc reports its best match
# (highest signature agreement, lowest id tiebreak) or none.
# ---------------------------------------------------------------------------


@register(
    "x53_incremental_neardup",
    oracle=_DUCK_PAIR_CTES.replace(", cand AS (", ", cand_unused AS (")
    + f""", new_bands AS (
  SELECT * FROM bands_ok WHERE doc_id % 10 = 0
), old_bands AS (
  SELECT * FROM bands_ok WHERE doc_id % 10 <> 0
), probe AS (
  SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS old_doc,
         n.sig AS ns, o.sig AS os
  FROM new_bands n JOIN old_bands o
    ON n.band = o.band AND n.band_key = o.band_key
), scored AS (
  SELECT new_doc, old_doc,
         len(list_filter(range({dd.MINHASH_K}), i -> ns[i+1] = os[i+1])) AS nm
  FROM probe
), best AS (
  SELECT new_doc, old_doc AS best_match, nm FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY new_doc
                                 ORDER BY nm DESC, old_doc) AS rn
    FROM scored WHERE nm >= {_X33_MIN_NM}
  ) WHERE rn = 1
)
SELECT new_doc, best_match, CAST(nm AS BIGINT) AS match_slots,
       ROUND(CAST(nm AS DOUBLE) / {dd.MINHASH_K}, 4) AS est_sim
FROM best
ORDER BY new_doc
""",
    doc="Incremental near-dup: the new batch's LSH bands (doc_id%10=0) "
    "probe the existing corpus index — batch-side broadcast, never a "
    "corpus self-join; per new doc, the best existing match above the "
    "x2 acceptance bar.",
)
def x53_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session-indexed signatures: shared by the three branches of this
    # plan and by every other signature consumer in the registry
    sigs = _sigs_index(spark, sf_dir)
    bands = sigs.select(
        "doc_id", F.posexplode(dd.band_keys_expr()).alias("band", "band_key")
    )
    ok = (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").alias("bc"))
        .filter(F.col("bc") <= BUCKET_CAP)
        .drop("bc")
    )
    # capped band keys feed two downstream consumers (self-join
    # sides / new-old split) — pin so the posexplode + cap join run
    # once, not per consumer
    bands = bands.join(ok, ["band", "band_key"]).localCheckpoint(
        eager=True
    )
    new_b = bands.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("new_doc"), "band", "band_key"
    )
    old_b = bands.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("old_doc"), "band", "band_key"
    )
    probe = (
        F.broadcast(new_b)
        .join(old_b, ["band", "band_key"])
        .select("new_doc", "old_doc")
        .distinct()
    )
    scored = probe.join(
        sigs.select(F.col("doc_id").alias("new_doc"), F.col("sig").alias("ns")),
        "new_doc",
    ).join(
        sigs.select(F.col("doc_id").alias("old_doc"), F.col("sig").alias("os")),
        "old_doc",
    ).select(
        "new_doc",
        "old_doc",
        F.expr(
            f"size(filter(sequence(0, {dd.MINHASH_K - 1}), i -> ns[i] = os[i]))"
        ).alias("nm"),
    )
    w = WindowSpec.partitionBy("new_doc").orderBy(F.desc("nm"), F.asc("old_doc"))
    return (
        scored.filter(F.col("nm") >= _X33_MIN_NM)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "new_doc",
            F.col("old_doc").alias("best_match"),
            F.col("nm").cast("bigint").alias("match_slots"),
            F.round(F.col("nm").cast("double") / dd.MINHASH_K, 4).alias("est_sim"),
        )
        .orderBy("new_doc")
    )


# ---------------------------------------------------------------------------
# X55 — canonical representative per near-dup cluster (keep-best)
#
# x14 counts clusters; the curation step that follows picks WHICH
# member survives. Policy: longest document wins (quality proxy),
# doc_id as the deterministic tiebreak — the "keep best, drop rest"
# rule every near-dup pipeline applies before writing shards. One
# row_number window over the labeled nodes joined to the documents
# dim; the labels come from the same checkpointed propagation as x14,
# so clusters and representatives can never disagree between the two
# queries.
# ---------------------------------------------------------------------------


@register(
    "x55_cluster_representative",
    oracle=_duck_reach_sql()
    + """
SELECT cluster_id, rep_doc, rep_chars, member_count
FROM (
  SELECT r.component AS cluster_id, r.node AS rep_doc,
         d.n_chars AS rep_chars,
         COUNT(*) OVER (PARTITION BY r.component) AS member_count,
         ROW_NUMBER() OVER (PARTITION BY r.component
                            ORDER BY d.n_chars DESC, r.node) AS rn
  FROM reach r JOIN documents d ON d.doc_id = r.node
)
WHERE rn = 1
ORDER BY cluster_id
""",
    doc="Keep-best canonicalization: per near-dup cluster, the longest "
    "member (doc_id tiebreak) via one row_number window over "
    "labels⋈documents; shares x14's propagation fixpoint.",
)
def x55_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _neardup_labels(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = WindowSpec.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("rep_doc")
    )
    return (
        labels.select(
            F.col("lbl").alias("cluster_id"), F.col("node").alias("rep_doc")
        )
        .join(docs, F.col("rep_doc") == F.col("doc_id"))
        .select(
            "cluster_id",
            "rep_doc",
            F.col("n_chars").alias("rep_chars"),
            F.count("*")
            .over(WindowSpec.partitionBy("cluster_id"))
            .alias("member_count"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# X65 — asymmetric shingle containment (doc-inside-doc duplication)
#
# Jaccard (x4) under-scores the quote/excerpt case: a 50-word passage
# fully contained in a 5000-word doc has tiny |A∩B|/|A∪B| but
# containment |A∩B|/min(|A|,|B|) ≈ 1 (Broder 1997's resemblance vs
# containment split). Training-data curation needs BOTH: symmetric
# near-dups collapse; containment flags boilerplate/quotation
# inclusion that survives Jaccard. Same inverted-index shape and
# df-cap as x4 — the only change is the denominator.
# ---------------------------------------------------------------------------

_CONTAIN_MIN = 0.8


@register(
    "x65_ngram_containment",
    oracle=f"""
WITH {dd.duck_shingles_cte()}, sh_all AS (
  SELECT doc_id, unnest({dd.duck_shingle_digests_sql()}) AS g
  FROM shing
), sh AS (
  SELECT doc_id, g FROM (
    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh_all
  ) WHERE df <= 1000
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(c AS DOUBLE) / LEAST(x.n, y.n), 4) AS containment
FROM shared JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
WHERE CAST(c AS DOUBLE) / LEAST(x.n, y.n) >= {_CONTAIN_MIN}
""",
    doc="Asymmetric n-gram containment |A∩B| / min(|A|,|B|) ≥ 0.8 over "
    "the df-capped inverted shingle index: catches doc-inside-doc "
    "duplication (quotes, boilerplate inclusion) that symmetric "
    "Jaccard misses.",
)
def x65_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Identical index build to x4 (digests only through the shuffle,
    # df-cap against boilerplate-shingle quadratic blowup); the
    # containment denominator is min(|A|,|B|) so a small doc fully
    # inside a large one scores ~1.0 regardless of the size gap.
    # Session-indexed postings (x4's shape): one md5 pass per corpus,
    # df-cap via hash aggregate + size-gated anti-join.
    sh = _df_capped_postings(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("c"))
    )
    cont = F.col("c").cast("double") / F.least(F.col("x.n"), F.col("y.n"))
    return (
        shared.join(sizes.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
        .join(sizes.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
        .select("doc_a", "doc_b", F.round(cont, 4).alias("containment"))
        .filter(cont >= _CONTAIN_MIN)
    )


# ---------------------------------------------------------------------------
# X66 — per-source shingle novelty (corpus freshness audit)
#
# Curation question x28/x33 don't answer: how much NEW text does each
# source actually contribute, in arrival order? A shingle is novel for
# the doc where it first appears (min doc_id over the corpus — ids are
# the ingest order in this schema); a source whose docs are mostly
# non-novel shingles is re-crawling what the corpus already has and
# should be down-weighted before training. One digest-grain aggregate
# (first-owner per shingle) joined back to the posting list — no
# self-join, so no df-cap needed; the shuffle carries 8-byte digests.
# ---------------------------------------------------------------------------


@register(
    "x66_shingle_novelty",
    oracle=f"""
WITH {dd.duck_shingles_cte()}, sh AS (
  SELECT doc_id, unnest({dd.duck_shingle_digests_sql()}) AS g
  FROM shing
), firsts AS (
  SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g
), scored AS (
  SELECT d.source, sh.doc_id, sh.g,
         CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END AS novel
  FROM sh
  JOIN firsts f ON f.g = sh.g
  JOIN documents d ON d.doc_id = sh.doc_id
)
SELECT source,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_shingles,
       CAST(SUM(novel) AS BIGINT) AS novel_shingles,
       ROUND(CAST(SUM(novel) AS DOUBLE) / COUNT(*), 4) AS novelty_rate
FROM scored
GROUP BY source
ORDER BY source
""",
    doc="Per-source shingle novelty: fraction of each source's "
    "word-3-shingles whose corpus-wide first occurrence (min doc_id "
    "= ingest order) lies in that source's docs — the re-crawl / "
    "redundancy signal for source-level mixture weighting.",
)
def x66_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_postings(spark, sf_dir)
    firsts = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    scored = (
        sh.join(firsts, "g")
        .join(src, "doc_id")
        .select(
            "source",
            "doc_id",
            F.when(F.col("first_doc") == F.col("doc_id"), 1)
            .otherwise(0)
            .alias("novel"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_shingles"),
            F.sum("novel").cast("bigint").alias("novel_shingles"),
            F.round(
                F.sum("novel").cast("double") / F.count("*"), 4
            ).alias("novelty_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X71 — near-dup graph triangle census (degree-ordered orientation)
#
# Structure audit of the near-dup pair graph (x2's edges): triangles
# mean transitive duplication (template families), and the global
# clustering coefficient 3T/W separates "chains of pairwise-similar
# docs" from "dense clique families" — the signal that decides whether
# cluster-collapse dedup (x14/x36) is safe or over-merges.
#
# The algorithm is the scale-canonical one: orient every edge from the
# LOWER (degree, id) endpoint to the higher, so each wedge is counted
# at exactly one apex and per-apex fanout is bounded by arboricity —
# the trick that keeps wedge volume near-linear on power-law graphs
# (the worst case for naive u<v orientation, where one hot hub emits
# deg² wedges). Rank packs (degree, id) into one BIGINT (d·2³² + id):
# identical integer total order in both engines. Wedge→triangle
# closure is a self-join on the oriented edge list; everything that
# shuffles is bare (src, dst, rank) longs. The only double is the
# final clustering ratio (IEEE division of exact ints).
# ---------------------------------------------------------------------------

_X71_EST = (
    f"CAST(len(list_filter(range({dd.MINHASH_K}), i -> sa[i+1] = sb[i+1])) "
    f"AS DOUBLE) / {dd.MINHASH_K}"
)


@register(
    "x71_dup_graph_triangles",
    oracle=_DUCK_PAIR_CTES
    + f""", edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand WHERE {_X71_EST} >= {_EST_MIN}
), deg AS (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
  GROUP BY n
), ranked AS (
  SELECT e.u, e.v,
         du.d * 4294967296 + e.u AS ru,
         dv.d * 4294967296 + e.v AS rv
  FROM edges e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
), ori AS (
  SELECT CASE WHEN ru < rv THEN u ELSE v END AS src,
         CASE WHEN ru < rv THEN v ELSE u END AS dst,
         CASE WHEN ru < rv THEN rv ELSE ru END AS rdst
  FROM ranked
), wedge AS (
  SELECT x.dst AS b, y.dst AS c
  FROM ori x JOIN ori y ON x.src = y.src AND x.rdst < y.rdst
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM wedge w JOIN ori e ON e.src = w.b AND e.dst = w.c
), scalars AS (
  SELECT (SELECT COUNT(*) FROM deg) AS n_vertices,
         (SELECT COUNT(*) FROM edges) AS n_edges,
         (SELECT COUNT(*) FROM wedge) AS n_oriented_wedges,
         (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_open_wedges
)
SELECT n_vertices, n_edges, n_oriented_wedges, n_triangles,
       CAST(3 * n_triangles AS DOUBLE) / NULLIF(n_open_wedges, 0)
         AS clustering_coeff
FROM scalars CROSS JOIN tri
""",
    doc="Triangle census of the MinHash-LSH near-dup graph via "
    "degree-ordered edge orientation (rank = deg*2^32 + id): wedge "
    "self-join + closure check, global clustering coefficient 3T/W — "
    "the transitivity audit behind cluster-collapse dedup decisions.",
)
def x71_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    est = F.col("nm").cast("double") / dd.MINHASH_K
    # Materialize the (small) edge list once: three consumers below
    # would otherwise each re-run the md5-heavy signature pipeline.
    edges = (
        _lsh_pair_matches(spark, sf_dir)
        .filter(est >= _EST_MIN)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    rank = lambda d, n: d * F.lit(4294967296).cast("long") + n  # noqa: E731
    ranked = (
        edges.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            "u", "v",
            rank(F.col("du"), F.col("u")).alias("ru"),
            rank(F.col("dv"), F.col("v")).alias("rv"),
        )
    )
    fwd = F.col("ru") < F.col("rv")
    ori = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.col("rv")).otherwise(F.col("ru")).alias("rdst"),
    ).localCheckpoint(eager=True)
    x, y = ori.alias("x"), ori.alias("y")
    wedge = x.join(
        y, (F.col("x.src") == F.col("y.src")) & (F.col("x.rdst") < F.col("y.rdst"))
    ).select(F.col("x.dst").alias("b"), F.col("y.dst").alias("c"))
    tri = wedge.join(
        ori, (F.col("src") == F.col("b")) & (F.col("dst") == F.col("c"))
    ).agg(F.count("*").alias("n_triangles"))
    scalars = (
        deg.agg(
            F.count("*").alias("n_vertices"),
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint")
            .alias("n_open_wedges"),
        )
        .crossJoin(edges.agg(F.count("*").alias("n_edges")))  # 1-row × 1-row
        .crossJoin(wedge.agg(F.count("*").alias("n_oriented_wedges")))
    )
    return scalars.crossJoin(tri).select(  # all sides are single-row scalars
        "n_vertices",
        "n_edges",
        "n_oriented_wedges",
        "n_triangles",
        (
            (F.lit(3) * F.col("n_triangles")).cast("double")
            / F.nullif(F.col("n_open_wedges"), F.lit(0))
        ).alias("clustering_coeff"),
    )


# ---------------------------------------------------------------------------
# X72 — KMV (bottom-k) distinct-shingle sketch per source + accuracy
#
# The third sketch family (after the HLL stand-in f2 and count-min
# x43): a K-minimum-values estimator of each source's distinct-shingle
# cardinality — the mergeable summary a federated ingest keeps per
# shard to estimate union/overlap sizes without exchanging shingle
# sets. Estimate = (k−1)·2⁶⁰ / h_k with h_k the k-th smallest distinct
# 60-bit shingle digest; fully deterministic given the data, so unlike
# f2 it IS SQL-oracle-able, and the exact distinct count rides along
# as the built-in error audit.
#
# Scale shape: the k-th smallest is NOT taken with one per-source sort
# (5 sources = 5 data-sized window partitions at corpus scale).
# Bottom-k runs two-phase, mirroring operators/prefix.py's philosophy:
# partition-local row_number over (source, spark_partition_id) keeps
# every sort partition-bounded, survivors (≤ partitions·k per source)
# merge in a second window over a k·P-bounded relation. The digest
# relation itself is distinct-deduped on (source, digest) first — one
# hash shuffle, no text movement.
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_EST_NUM = float((_KMV_K - 1) << 60)  # same double literal both engines


@register(
    "x72_kmv_distinct_sketch",
    oracle=f"""
WITH {dd.duck_shingles_cte()}, sh AS (
  SELECT DISTINCT d.source, g.g
  FROM shing
  CROSS JOIN unnest({dd.duck_shingle_digests_sql()}) AS g(g)
  JOIN documents d ON d.doc_id = shing.doc_id
), ranked AS (
  SELECT source, g,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY g) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n_exact
  FROM sh
)
SELECT source,
       CAST(n_exact AS BIGINT) AS n_distinct_exact,
       g AS kth_min_digest,
       {_KMV_EST_NUM!r} / g AS est_distinct,
       {_KMV_EST_NUM!r} / g / n_exact - 1 AS rel_error
FROM ranked WHERE rn = {_KMV_K}
ORDER BY source
""",
    doc=f"KMV/bottom-k distinct sketch: per-source k={_KMV_K} minimum "
    "distinct shingle digests -> (k-1)*2^60/h_k cardinality estimate "
    "with exact-count error audit; two-phase partition-local bottom-k "
    "(no data-sized window partition), mergeable across shards.",
)
def x72_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    sh = (
        _shingle_postings(spark, sf_dir)
        .join(src, "doc_id")
        .select("source", "g")
        .distinct()
        .localCheckpoint(eager=True)  # feeds sketch AND exact audit (x73's pin)
    )
    # phase 1: bottom-k within each (source, physical partition)
    part = sh.withColumn("pid", F.spark_partition_id())
    w1 = WindowSpec.partitionBy("source", "pid").orderBy("g")
    local = (
        part.withColumn("lrn", F.row_number().over(w1))
        .filter(F.col("lrn") <= _KMV_K)
        .select("source", "g")
    )
    # phase 2: merge the <= k*P survivors per source; also recover the
    # exact distinct count from the full relation (one aggregate)
    exact = sh.groupBy("source").agg(F.count("*").alias("n_distinct_exact"))
    w2 = WindowSpec.partitionBy("source").orderBy("g")
    kth = (
        local.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == _KMV_K)
        .select("source", F.col("g").alias("kth_min_digest"))
    )
    return (
        kth.join(exact, "source")
        .select(
            "source",
            F.col("n_distinct_exact").cast("bigint"),
            "kth_min_digest",
            (F.lit(_KMV_EST_NUM) / F.col("kth_min_digest")).alias("est_distinct"),
            (
                F.lit(_KMV_EST_NUM)
                / F.col("kth_min_digest")
                / F.col("n_distinct_exact")
                - 1
            ).alias("rel_error"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X73 — KMV sketch algebra: pairwise union/overlap from sketches alone
#
# The point of keeping per-shard KMV sketches (x72) is that they MERGE:
# the bottom-k of a union is the bottom-k of the concatenated sketches,
# so |A∪B| is estimable without ever rescanning either corpus, and
# |A∩B| follows by inclusion–exclusion. This query materializes the
# per-source sketches once (k·sources rows — KILOBYTES at any corpus
# size) and then computes every pairwise union/overlap estimate purely
# on that tiny relation, next to the exact overlap for the audit.
#
# Scale shape: one distinct-shuffle + two-phase bottom-k builds the
# sketches (x72's plan); everything after operates on ≤ k·|sources|
# rows — the sketch-algebra stage would run on a laptop for a 100 TB
# corpus, which is precisely the operational argument for sketches.
# The exact-overlap audit joins distinct digest sets per source pair
# (source_a < source_b), bare longs only.
# ---------------------------------------------------------------------------


@register(
    "x73_kmv_sketch_merge",
    oracle=f"""
WITH {dd.duck_shingles_cte()}, sh AS (
  SELECT DISTINCT d.source, g.g
  FROM shing
  CROSS JOIN unnest({dd.duck_shingle_digests_sql()}) AS g(g)
  JOIN documents d ON d.doc_id = shing.doc_id
), sk AS (
  SELECT source, g FROM (
    SELECT source, g, ROW_NUMBER() OVER (PARTITION BY source ORDER BY g) AS rn
    FROM sh
  ) WHERE rn <= {_KMV_K}
), merged AS (
  SELECT a.source AS source_a, b.source AS source_b, u.g,
         ROW_NUMBER() OVER (PARTITION BY a.source, b.source ORDER BY u.g) AS rn
  FROM (SELECT DISTINCT source FROM sk) a
  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source
  JOIN LATERAL (
    SELECT DISTINCT g FROM sk WHERE sk.source IN (a.source, b.source)
  ) u ON TRUE
), union_est AS (
  SELECT source_a, source_b, {_KMV_EST_NUM!r} / g AS est_union
  FROM merged WHERE rn = {_KMV_K}
), exact AS (
  SELECT x.source AS source_a, y.source AS source_b,
         COUNT(*) AS exact_overlap
  FROM sh x JOIN sh y ON x.g = y.g AND x.source < y.source
  GROUP BY 1, 2
), singles AS (
  SELECT source, {_KMV_EST_NUM!r} / MAX(g) AS est_single
  FROM (SELECT source, g FROM sk QUALIFY
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY g) = {_KMV_K})
  GROUP BY source
)
SELECT u.source_a AS source_a, u.source_b AS source_b,
       ROUND(sa.est_single + sb.est_single - u.est_union, 1) AS est_overlap,
       CAST(COALESCE(e.exact_overlap, 0) AS BIGINT) AS exact_overlap
FROM union_est u
JOIN singles sa ON sa.source = u.source_a
JOIN singles sb ON sb.source = u.source_b
LEFT JOIN exact e ON e.source_a = u.source_a AND e.source_b = u.source_b
ORDER BY u.source_a, u.source_b
""",
    doc=f"KMV sketch merge: bottom-{_KMV_K} union sketches per source "
    "pair give |A∪B| estimates, inclusion-exclusion gives |A∩B|, all "
    "on the kilobyte sketch relation — exact pairwise overlap rides "
    "along as the audit. The mergeability property that makes KMV the "
    "federated-ingest sketch.",
)
def x73_kmv_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    sh = (
        _shingle_postings(spark, sf_dir)
        .join(src, "doc_id")
        .select("source", "g")
        .distinct()
        .localCheckpoint(eager=True)  # reused by sketch build AND audit
    )
    # two-phase bottom-k (x72's plan) → the per-source sketch relation
    w1 = WindowSpec.partitionBy("source", "pid").orderBy("g")
    local = (
        sh.withColumn("pid", F.spark_partition_id())
        .withColumn("lrn", F.row_number().over(w1))
        .filter(F.col("lrn") <= _KMV_K)
        .select("source", "g")
    )
    w2 = WindowSpec.partitionBy("source").orderBy("g")
    sk = (
        local.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= _KMV_K)
        .select("source", "g")
        .localCheckpoint(eager=True)  # ≤ k · |sources| rows
    )
    srcs = sk.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(
            srcs.alias("b"),
            F.col("a.source") < F.col("b.source"),
        )
        .select(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
    )
    # merged union sketch per pair: digests of either side, dedup, rank
    both = pairs.join(
        sk,
        (F.col("source") == F.col("source_a"))
        | (F.col("source") == F.col("source_b")),
    ).select("source_a", "source_b", "g").distinct()
    wp = WindowSpec.partitionBy("source_a", "source_b").orderBy("g")
    union_est = (
        both.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == _KMV_K)
        .select(
            "source_a",
            "source_b",
            (F.lit(_KMV_EST_NUM) / F.col("g")).alias("est_union"),
        )
    )
    singles = (
        sk.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == _KMV_K)
        .select("source", (F.lit(_KMV_EST_NUM) / F.col("g")).alias("est_single"))
    )
    # exact overlap without the digest self-join: each digest's sorted
    # source list (≤ |sources| entries) emits its ascending pairs via a
    # nested transform — the SMJ's exchange+two sorts over every
    # (source, digest) row collapse into one groupBy(g) exchange and a
    # map-side pair count (guide §2.4; the e15 shape)
    per_g = sh.groupBy("g").agg(
        F.sort_array(F.collect_list("source")).alias("ss")
    )
    exact = (
        per_g.filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(ss) - 2), i -> "
                    "transform(sequence(i + 1, size(ss) - 1), j -> "
                    "struct(ss[i] as source_a, ss[j] as source_b))))"
                )
            ).alias("t")
        )
        .groupBy(
            F.col("t.source_a").alias("source_a"),
            F.col("t.source_b").alias("source_b"),
        )
        .agg(F.count("*").alias("exact_overlap"))
    )
    sa = singles.select(
        F.col("source").alias("source_a"), F.col("est_single").alias("ea")
    )
    sb = singles.select(
        F.col("source").alias("source_b"), F.col("est_single").alias("eb")
    )
    return (
        union_est.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .join(exact, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.round(F.col("ea") + F.col("eb") - F.col("est_union"), 1).alias(
                "est_overlap"
            ),
            F.coalesce("exact_overlap", F.lit(0)).cast("bigint").alias(
                "exact_overlap"
            ),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# X74 — leakage-free train/val/test split (cluster-aware assignment)
#
# x45 AUDITS split leakage; this PREVENTS it: the split is assigned
# per near-dup COMPONENT (md5 of the component label, 90/5/5), so two
# near-duplicate documents can never land in different splits — the
# constructive fix for eval contamination. Docs outside the pair
# graph are their own singleton component. The report is per-split
# volume (components/docs/chars) plus the proof column: near-dup
# pairs with exactly one endpoint in the split — structurally zero,
# and the oracle recomputes it from scratch rather than trusting the
# construction.
#
# Scale shape: component labels come from the capped LSH miner + min-
# label propagation (x14's plan); the split hash and the rollup are
# one map + one small aggregate. The leakage proof joins the pair
# list to the (doc, split) relation twice on bare ids.
# ---------------------------------------------------------------------------

_X74_UNITS = 20  # 18/1/1 → 90/5/5
_X74_SPLIT_CASE = (
    "CASE WHEN u < 18 THEN 'train' WHEN u = 18 THEN 'val' ELSE 'test' END"
)

def _x74_oracle() -> str:
    from calaveras_uniteus_etl_spark.functions.hashing import duckdb_md5_long_sql

    h = duckdb_md5_long_sql("CAST(comp AS VARCHAR)")
    return (
        _duck_reach_sql()
        + f""", lab AS (
  SELECT d.doc_id, d.n_chars, COALESCE(r.component, d.doc_id) AS comp
  FROM documents d LEFT JOIN reach r ON r.node = d.doc_id
), assigned AS (
  SELECT doc_id, n_chars, comp, u,
         {_X74_SPLIT_CASE} AS split
  FROM (SELECT *, {h} % {_X74_UNITS} AS u FROM lab)
), cross_pairs AS (
  SELECT sa.split AS split, COUNT(*) AS n
  FROM pairs p
  JOIN assigned sa ON sa.doc_id = p.doc_a
  JOIN assigned sb ON sb.doc_id = p.doc_b
  WHERE sa.split <> sb.split
  GROUP BY sa.split
  UNION ALL
  SELECT sb.split, COUNT(*)
  FROM pairs p
  JOIN assigned sa ON sa.doc_id = p.doc_a
  JOIN assigned sb ON sb.doc_id = p.doc_b
  WHERE sa.split <> sb.split
  GROUP BY sb.split
), crossing AS (
  SELECT split, CAST(SUM(n) AS BIGINT) AS cross_split_pairs
  FROM cross_pairs GROUP BY split
)
SELECT a.split AS split,
       COUNT(DISTINCT a.comp) AS n_components,
       COUNT(*) AS n_docs,
       CAST(SUM(a.n_chars) AS BIGINT) AS n_chars,
       CAST(COALESCE(MAX(c.cross_split_pairs), 0) AS BIGINT)
         AS cross_split_pairs
FROM assigned a LEFT JOIN crossing c ON c.split = a.split
GROUP BY a.split
ORDER BY a.split
"""
    )



@register(
    "x74_leakage_free_split",
    oracle=_x74_oracle(),
    doc="Cluster-aware 90/5/5 split: md5 of the near-dup component "
    "label decides the split for ALL members (singletons = own doc), "
    "so near-duplicates can never straddle splits; per-split volume "
    "plus a recomputed cross-split-pair proof column (must be 0).",
)
def x74_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.functions.hashing import md5_long

    labels = _neardup_labels(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    lab = (
        docs.join(labels, docs.doc_id == labels.node, "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("lbl"), F.col("doc_id")).alias("comp"),
        )
    )
    assigned = lab.withColumn(
        "u", F.pmod(md5_long(F.col("comp").cast("string")), F.lit(_X74_UNITS))
    ).withColumn("split", F.expr(_X74_SPLIT_CASE))
    pairs = x2_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sp = assigned.select("doc_id", "split")
    cross = (
        pairs.join(sp.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("split", "sa"), "doc_a")
        .join(sp.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("split", "sb"), "doc_b")
        .filter(F.col("sa") != F.col("sb"))
    )
    # endpoint-attributed: a crossing pair counts once per side
    crossing = (
        cross.select(F.col("sa").alias("split"))
        .unionAll(cross.select(F.col("sb").alias("split")))
        .groupBy("split")
        .agg(F.count("*").alias("cross_split_pairs"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.countDistinct("comp").alias("n_components"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .join(crossing, "split", "left")
        .select(
            "split",
            "n_components",
            "n_docs",
            "n_chars",
            F.coalesce("cross_split_pairs", F.lit(0))
            .cast("bigint")
            .alias("cross_split_pairs"),
        )
        .orderBy("split")
    )




# ---------------------------------------------------------------------------
# X83 — Adamic-Adar link prediction on the near-dup graph
#
# Which doc pairs are NOT (yet) near-dup edges but share many
# near-dup neighbors? The curation use: predicted links surface
# template families the LSH threshold just missed, and rank which
# candidate pairs to spot-check first. AA(b,c) = Σ_{z∈N(b)∩N(c)}
# 1/ln(deg z), computed relationally: undirected neighbor lists,
# wedges through each shared neighbor z, per-pair sum, existing edges
# anti-joined out. Hub neighbors are capped (deg ≤ 50): a hub's
# 1/ln(deg) carries ~no signal and its deg² wedge fanout is the one
# quadratic risk — the cap bounds per-apex work exactly like x71's
# degree orientation bounds wedge counting. Tight dup clusters are
# near-cliques, so pure non-edge predictions can be empty — known
# edges therefore ride along flagged is_edge=TRUE (AA doubles as an
# edge-strength re-weighting), with predictions ranked first.
# Determinism: each wedge
# contributes ROUND(1e6/ln(deg)) as a BIGINT micro-unit (the 0dp round
# collapses the 1-ulp libm ln divergence), so per-pair sums are exact
# integers and the top-50 order is total.
# ---------------------------------------------------------------------------

_X83_DEG_CAP = 50


@register(
    "x83_adamic_adar",
    oracle=_DUCK_PAIR_CTES
    + f""", edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand WHERE {_X71_EST} >= {_EST_MIN}
), und AS (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
), deg AS (
  SELECT u AS n, COUNT(*) AS d FROM und GROUP BY u
), nbr AS (
  SELECT und.u AS z, und.v AS x, deg.d
  FROM und JOIN deg ON deg.n = und.u
  WHERE deg.d BETWEEN 2 AND {_X83_DEG_CAP}
), wedge AS (
  SELECT a.z, a.d, a.x AS b, c.x AS c
  FROM nbr a JOIN nbr c ON a.z = c.z AND a.x < c.x
), scored AS (
  SELECT b, c, COUNT(*) AS n_common,
         CAST(SUM(CAST(ROUND(1000000.0 / LN(d), 0) AS BIGINT)) AS BIGINT)
           AS micro
  FROM wedge GROUP BY b, c
), flagged AS (
  SELECT s.*, CASE WHEN e.u IS NULL THEN FALSE ELSE TRUE END AS is_edge
  FROM scored s
  LEFT JOIN edges e ON e.u = s.b AND e.v = s.c
)
SELECT b AS doc_a, c AS doc_b, n_common,
       CAST(micro AS DOUBLE) / 1000000 AS aa_score, is_edge
FROM flagged
ORDER BY is_edge, micro DESC, b, c
LIMIT 50
""",
    doc="Adamic-Adar link prediction over the MinHash-LSH near-dup "
    "graph: shared-neighbor wedges (hub cap deg<=50 bounds the "
    "quadratic fanout), 1/ln(deg) in exact micro-units, existing edges "
    "flagged is_edge, deterministic top-50 with predictions first.",
)
def x83_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    est = F.col("nm").cast("double") / dd.MINHASH_K
    # one materialization of the (small) edge list — three consumers
    edges = (
        _lsh_pair_matches(spark, sf_dir)
        .filter(est >= _EST_MIN)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .localCheckpoint(eager=True)
    )
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("n")).agg(F.count("*").alias("d"))
    nbr = (
        und.join(deg, und.u == deg.n)
        .filter(F.col("d").between(2, _X83_DEG_CAP))
        .select(F.col("u").alias("z"), F.col("v").alias("x"), "d")
    )
    a, c = nbr.alias("a"), nbr.alias("c")
    wedge = a.join(
        c, (F.col("a.z") == F.col("c.z")) & (F.col("a.x") < F.col("c.x"))
    ).select(
        F.col("a.x").alias("b"),
        F.col("c.x").alias("c"),
        F.round(F.lit(1000000.0) / F.log(F.col("a.d")), 0)
        .cast("bigint")
        .alias("w_micro"),
    )
    scored = wedge.groupBy("b", "c").agg(
        F.count("*").alias("n_common"),
        F.sum("w_micro").cast("bigint").alias("micro"),
    )
    flagged = scored.join(
        edges,
        (F.col("u") == F.col("b")) & (F.col("v") == F.col("c")),
        "left",
    ).withColumn("is_edge", F.col("u").isNotNull())
    # predicted (non-edge) links rank first; known edges trail as the
    # re-weighting readout of existing link strength
    return (
        flagged.select(
            F.col("b").alias("doc_a"),
            F.col("c").alias("doc_b"),
            "n_common",
            (F.col("micro").cast("double") / 1000000).alias("aa_score"),
            "is_edge",
        )
        .orderBy("is_edge", F.col("aa_score").desc(), "doc_a", "doc_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# X86 — edit-distance similarity join via q-gram count filtering
#
# The string-similarity join the MinHash family can't express: pairs
# within Levenshtein distance k, found WITHOUT the O(n²) scan.
# Classic count filtering (Gravano et al., VLDB 2001): one edit
# operation destroys at most q positional q-grams, so ed(s,t) ≤ k
# forces |grams(s) ∩ grams(t)| ≥ max(|s|,|t|) − 1 − k·q (multiset
# semantics, q=2). The pipeline: distinct names → occurrence-tagged
# bigram inverted index (tagging the i-th duplicate gram makes set
# intersection equal multiset intersection) → equi-join on
# (gram, occurrence) → per-pair match count → count filter → exact
# levenshtein verify (JVM built-in). The filter is LOSSLESS for
# len ≥ 6 at k=2 (bound ≥ 1 ⇒ every true pair shares a gram); the
# length-6 gate is applied identically in both engines.
#
# This complements e14 (deletion-neighborhood ER, complete only for
# k=1): count filtering scales the threshold without the O(len^k)
# neighborhood blow-up.
#
# Scale: the join universe is the DISTINCT-name relation (vocabulary-
# sized, not row-count-sized); the gram join is an equi-join on the
# tagged gram with per-pair counts — one shuffle on the gram key, one
# on the pair key. The DuckDB oracle is the brute-force quadratic
# join, so the hash match PROVES candidate completeness end-to-end.
# ---------------------------------------------------------------------------

_X86_K = 2  # Levenshtein threshold
_X86_Q = 2  # gram width


@register(
    "x86_editdist_join",
    oracle=f"""
WITH names AS (
  SELECT p_name, COUNT(*) AS n_parts
  FROM part WHERE length(p_name) >= 6
  GROUP BY p_name
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS editdist,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a JOIN names b
  ON a.p_name < b.p_name
 AND abs(length(a.p_name) - length(b.p_name)) <= {_X86_K}
 AND levenshtein(a.p_name, b.p_name) <= {_X86_K}
ORDER BY name_a, name_b
""",
    doc="Edit-distance ≤2 similarity join over distinct part names: "
    "occurrence-tagged bigram inverted index + lossless count filter "
    "(Gravano et al. 2001) + exact levenshtein verify; the oracle is "
    "the brute-force quadratic join, so the hash match proves "
    "candidate completeness.",
)
def x86_editdist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    names = (
        p.filter(F.length("p_name") >= 6)
        .groupBy("p_name")
        .agg(F.count("*").alias("n_parts"))
        .withColumn("nlen", F.length("p_name"))
    )
    # occurrence-tagged positional bigrams: (gram, occ) set-intersection
    # equals the gram multiset intersection
    grams = names.select(
        "p_name",
        "nlen",
        F.posexplode(F.sequence(F.lit(1), F.col("nlen") - 1)).alias(
            "_i", "pos"
        ),
    ).select(
        "p_name",
        "nlen",
        F.substring(F.col("p_name"), F.col("pos"), _X86_Q).alias("gram"),
        "pos",
    )
    occ_w = WindowSpec.partitionBy("p_name", "gram").orderBy("pos")
    tagged = grams.select(
        "p_name",
        "nlen",
        "gram",
        F.row_number().over(occ_w).alias("occ"),
    )
    a = tagged.select(
        F.col("p_name").alias("name_a"),
        F.col("nlen").alias("len_a"),
        "gram",
        "occ",
    )
    b = tagged.select(
        F.col("p_name").alias("name_b"),
        F.col("nlen").alias("len_b"),
        "gram",
        "occ",
    )
    cand = (
        a.join(b, ["gram", "occ"])
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (
                F.abs(F.col("len_a") - F.col("len_b")) <= _X86_K
            )
        )
        .groupBy("name_a", "name_b", "len_a", "len_b")
        .agg(F.count("*").alias("shared"))
        .filter(
            F.col("shared")
            >= F.greatest(F.col("len_a"), F.col("len_b"))
            - 1
            - _X86_K * _X86_Q
        )
    )
    verified = cand.withColumn(
        "editdist",
        F.levenshtein(F.col("name_a"), F.col("name_b")).cast("bigint"),
    ).filter(F.col("editdist") <= _X86_K)
    counts = names.select("p_name", "n_parts")
    return (
        verified.join(
            F.broadcast(
                counts.select(
                    F.col("p_name").alias("name_a"),
                    F.col("n_parts").alias("n_parts_a"),
                )
            ),
            "name_a",
        )
        .join(
            F.broadcast(
                counts.select(
                    F.col("p_name").alias("name_b"),
                    F.col("n_parts").alias("n_parts_b"),
                )
            ),
            "name_b",
        )
        .select("name_a", "name_b", "editdist", "n_parts_a", "n_parts_b")
        .orderBy("name_a", "name_b")
    )


# ---------------------------------------------------------------------------
# X89 — k-hop BFS reach over the near-dup graph (frontier expansion)
#
# x14 answers "which cluster" (min-label fixpoint); this answers "how
# FAR" — the hop distribution of breadth-first reach from a
# deterministic seed sample, the contamination-blast-radius question
# ("if these docs are tainted, how much of the corpus is within k
# links?"). The Spark side is the canonical bounded frontier
# expansion: per hop, join the frontier against the edge list, strip
# already-visited nodes with a left-anti join, checkpoint — the
# iterative-BFS twin of x14's label propagation (different fixpoint,
# different per-round state: a frontier, not the full label map). The
# DuckDB oracle walks the same edges with WITH RECURSIVE + min-hop,
# so the hash match proves both the edge set and the traversal.
#
# Scale: each round shuffles frontier-sized relations against the
# edge list (co-partitioned equi-joins); hops are capped at 3, and
# every round ends in an eager localCheckpoint to keep lineage flat.
# ---------------------------------------------------------------------------

from calaveras_uniteus_etl_spark.functions.hashing import (  # noqa: E402
    duckdb_md5_long_sql as _dd_fold,
)

_X89_HOPS = 3
_X89_SEED_MOD = 3  # ~1/3 of graph nodes seed the walk


@register(
    "x89_khop_reach",
    oracle=_duck_reach_sql()
    + f""", gnodes AS (
  SELECT DISTINCT a AS node FROM edges
), seeds AS (
  SELECT node FROM gnodes
  WHERE {_dd_fold("'bfs:' || CAST(node AS VARCHAR)")} % {_X89_SEED_MOD} = 0
), bfs AS (
  WITH RECURSIVE r(node, hop) AS (
    SELECT node, 0 FROM seeds
    UNION
    SELECT e.b, r.hop + 1 FROM r JOIN edges e ON e.a = r.node
    WHERE r.hop < {_X89_HOPS}
  ) SELECT node, MIN(hop) AS hop FROM r GROUP BY node
)
SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM bfs GROUP BY hop ORDER BY hop
""",
    doc="Bounded BFS over the MinHash-LSH pair graph: deterministic "
    "seed sample (md5 mod), 3 rounds of frontier-join expansion with "
    "left-anti visited pruning and per-round checkpoints; reports "
    "docs first reached at each hop. Recursive-CTE min-hop oracle "
    "proves edge set and traversal together.",
)
def x89_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.functions.hashing import md5_long

    pairs = x2_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b").cache()
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        .cache()
    )
    try:
        nodes = edges.select(F.col("a").alias("node")).distinct()
        seeds = nodes.filter(
            md5_long(F.concat(F.lit("bfs:"), F.col("node").cast("string")))
            % _X89_SEED_MOD
            == 0
        )
        visited = seeds.withColumn("hop", F.lit(0)).localCheckpoint(
            eager=True
        )
        frontier = visited.select("node")
        for hop in range(1, _X89_HOPS + 1):
            nxt = (
                edges.join(frontier, edges.a == frontier.node)
                .select(F.col("b").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .withColumn("hop", F.lit(hop))
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
            visited = visited.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt.select("node")
        return (
            visited.groupBy("hop")
            .agg(F.count("*").cast("bigint").alias("n_docs"))
            .orderBy("hop")
        )
    finally:
        pairs.unpersist()
        edges.unpersist()


# ---------------------------------------------------------------------------
# X94 — greedy max-coverage selection (facility-location curation)
#
# Dedup asks "what is redundant"; coverage-driven curation asks the
# dual: WHICH K DOCUMENTS COVER THE MOST of the corpus's distinct
# shingles? The lazy-greedy classic (Nemhauser et al. 1978: the
# (1−1/e) guarantee) runs as a bounded driver loop: per round, score
# every unpicked candidate by NEW shingles covered (left-anti join
# against the covered set), take the argmax with a doc-id tiebreak,
# fold its shingles into the covered set, checkpoint. The oracle
# UNROLLS all four rounds as CTE stages (b1/c1 … b4/c4), so the hash
# match proves score → argmax → fold at every step. Candidates are a
# deterministic md5 fifth of the corpus; docs whose remaining gain is
# zero drop out of the scoring relation in both engines identically.
#
# Scale: each round is one anti-join + count on the (doc, shingle)
# relation — posting-list-sized, shuffled on the shingle key — and
# the covered set grows by ≤ one doc's shingles per round.
# ---------------------------------------------------------------------------

_X94_ROUNDS = 4
_X94_CAND_MOD = 5


def _x94_oracle() -> str:
    from calaveras_uniteus_etl_spark.functions.hashing import duckdb_md5_long_sql

    keep = duckdb_md5_long_sql("'mc:' || CAST(doc_id AS VARCHAR)")
    norm = dd.NORM_DUCK.format(col="text")
    sql = f"""
WITH words AS (
  SELECT doc_id, string_split({norm}, ' ') AS w
  FROM documents
  WHERE {keep} % {_X94_CAND_MOD} = 0
), ds AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(len(w) - 2),
                i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3]))
           AS shingle
  FROM words WHERE len(w) >= 3
)"""
    picked_docs: list[str] = []
    pieces = []
    for r in range(1, _X94_ROUNDS + 1):
        prev_cov = f"c{r - 1}"
        not_covered = (
            f"AND shingle NOT IN (SELECT shingle FROM {prev_cov})"
            if r > 1
            else ""
        )
        not_picked = (
            "AND doc_id NOT IN ("
            + " UNION ALL ".join(
                f"SELECT doc_id FROM b{i}" for i in range(1, r)
            )
            + ")"
            if r > 1
            else ""
        )
        cov_sel = (
            f"SELECT shingle FROM {prev_cov} UNION "
            f"SELECT ds.shingle FROM ds JOIN b{r} USING (doc_id)"
            if r > 1
            else f"SELECT DISTINCT ds.shingle FROM ds JOIN b{r} USING (doc_id)"
        )
        sql += f""", g{r} AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
  FROM ds WHERE TRUE {not_covered} {not_picked}
  GROUP BY doc_id
), b{r} AS (
  SELECT doc_id, gain FROM g{r} ORDER BY gain DESC, doc_id ASC LIMIT 1
), c{r} AS (
  {cov_sel}
)"""
        pieces.append(
            f"SELECT {r} AS round, doc_id AS picked_doc, gain,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM c{r}) AS covered_total"
            f" FROM b{r}"
        )
        picked_docs.append(f"b{r}")
    return sql + "\n" + "\nUNION ALL\n".join(pieces) + "\nORDER BY round"


@register(
    "x94_greedy_coverage",
    oracle=_x94_oracle(),
    doc="Greedy max-coverage curation: four rounds of score-by-new-"
    "shingles (left-anti vs the covered set), argmax pick with doc-id "
    "tiebreak, covered-set fold — the (1−1/e) facility-location "
    "selection; oracle unrolls every round as CTE stages.",
)
def x94_greedy_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.functions.hashing import md5_long

    d = table(spark, sf_dir, "documents").filter(
        md5_long(F.concat(F.lit("mc:"), F.col("doc_id").cast("string")))
        % _X94_CAND_MOD
        == 0
    )
    words = d.select(
        "doc_id",
        F.expr(
            "split(" + dd.NORM_SPARK.format(col="text") + ", ' ')"
        ).alias("w"),
    ).filter(F.size("w") >= 3)
    ds = (
        words.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 3),"
                    " i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))"
                )
            ).alias("shingle"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # every round re-reads this
    )
    covered = None
    picked: list[int] = []
    # Greedy steering is inherently driver-side (each round's argmax
    # decides the next round's anti-join), so every per-round value is
    # ALREADY a collected 1-row scalar. Emit those scalars directly:
    # the previous unionByName-of-plans output re-executed every
    # round's anti-join + groupBy a second time when the final result
    # was evaluated. Nothing is cached across runs — the scalars are
    # computed fresh from the pinned shingle relation each invocation.
    rows: list[tuple[int, int, int, int]] = []
    n_cov = 0
    for r in range(1, _X94_ROUNDS + 1):
        remaining = ds
        if picked:
            remaining = remaining.filter(~F.col("doc_id").isin(picked))
        if covered is not None:
            remaining = remaining.join(covered, "shingle", "left_anti")
        gains = remaining.groupBy("doc_id").agg(
            F.count("*").cast("bigint").alias("gain")
        )
        best = (
            gains.orderBy(F.desc("gain"), F.asc("doc_id")).limit(1).first()
        )  # 1-row scalar steering the next round
        picked.append(best["doc_id"])
        new_cov = ds.filter(F.col("doc_id") == best["doc_id"]).select(
            "shingle"
        )
        covered = (
            new_cov
            if covered is None
            else covered.unionByName(new_cov).distinct()
        ).localCheckpoint(eager=True)
        # |covered| grows by exactly the winner's gain (its uncovered
        # shingles) — no per-round count job over the pinned blocks
        n_cov += int(best["gain"])
        rows.append((r, int(best["doc_id"]), int(best["gain"]), n_cov))
    return spark.createDataFrame(
        rows,
        "round int, picked_doc bigint, gain bigint, covered_total bigint",
    ).orderBy("round")


# ---------------------------------------------------------------------------
# X98 — content-defined chunking (CDC boundaries, the dedup-stable cut)
#
# x27/x44 chunk by FIXED windows, which shatter on a one-character
# insertion; storage dedup cuts where the CONTENT says so: a boundary
# after every position whose trailing 8-char window hashes to
# 0 mod 64 (expected chunk ≈ 64 chars), so an edit only disturbs the
# chunks it touches. Per position the window digest is the shared
# md5 fold (engine-neutral); the chunk index is a per-document
# cumulative boundary count (document-partitioned window); chunk
# identity is the md5 of the chunk substring. The census compares
# chunk mass against distinct chunk mass — the dedup leverage CDC
# exists to create.
#
# Scale: the position explode carries (doc_id, pos) + an 8-char
# window; all windows/aggregations partition by doc_id except the
# final corpus census.
# ---------------------------------------------------------------------------

_X98_WIN = 8
_X98_MOD = 64  # expected chunk length


def _dd_fold_norm() -> str:
    return dd.NORM_DUCK.format(col="text")


@register(
    "x98_cdc_chunking",
    oracle=f"""
WITH norm AS (
  SELECT doc_id, {_dd_fold_norm()} AS t FROM documents
  WHERE length({_dd_fold_norm()}) >= {_X98_WIN}
), pos AS (
  SELECT doc_id, t, unnest(range({_X98_WIN}, length(t) + 1)) AS p
  FROM norm
), marked AS (
  SELECT doc_id, t, p,
         CASE WHEN {_dd_fold("'cdc:' || substr(t, p - " + str(_X98_WIN - 1) + ", " + str(_X98_WIN) + ")")}
                   % {_X98_MOD} = 0
              THEN 1 ELSE 0 END AS is_boundary
  FROM pos
), cut AS (
  SELECT doc_id, t, p, is_boundary,
         CAST(SUM(is_boundary) OVER (PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS chunk_idx
  FROM marked
), chunks AS (
  SELECT doc_id, COALESCE(chunk_idx, 0) AS chunk_idx,
         md5(substr(MIN(t), MIN(p) - {_X98_WIN - 1},
                    MAX(p) - MIN(p) + {_X98_WIN})) AS chunk_hash,
         MAX(p) - MIN(p) + {_X98_WIN} AS chunk_len
  FROM cut
  GROUP BY doc_id, COALESCE(chunk_idx, 0)
)
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       ROUND(CAST(SUM(chunk_len) AS DOUBLE) / COUNT(*), 6)
         AS mean_chunk_len,
       CAST(COUNT(DISTINCT chunk_hash) AS BIGINT) AS distinct_chunks,
       ROUND(1.0 - CAST(COUNT(DISTINCT chunk_hash) AS DOUBLE) / COUNT(*), 6)
         AS dup_chunk_fraction
FROM chunks
""",
    doc="Content-defined chunking: boundary after every position whose "
    "trailing 8-char window md5-folds to 0 mod 64 (expected 64-char "
    "chunks, edit-stable cuts), per-doc cumulative boundary index, "
    "chunk identity by substring md5; corpus census of chunk mass vs "
    "distinct mass — the dedup leverage fixed windows (x27/x44) "
    "cannot give.",
)
def x98_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.functions.hashing import md5_long

    norm_expr = dd.NORM_SPARK.format(col="text")
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(norm_expr).alias("t"))
        .filter(F.length("t") >= _X98_WIN)
    )
    pos = d.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(_X98_WIN), F.length("t"))
        ).alias("p"),
    )
    window = F.expr(f"substr(t, p - {_X98_WIN - 1}, {_X98_WIN})")
    marked = pos.select(
        "doc_id",
        "t",
        "p",
        F.when(
            md5_long(F.concat(F.lit("cdc:"), window)) % _X98_MOD == 0, 1
        )
        .otherwise(0)
        .alias("is_boundary"),
    )
    w = (
        WindowSpec.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(WindowSpec.unboundedPreceding, -1)
    )
    cut = marked.select(
        "doc_id",
        "t",
        "p",
        F.coalesce(F.sum("is_boundary").over(w), F.lit(0))
        .cast("bigint")
        .alias("chunk_idx"),
    )
    chunks = cut.groupBy("doc_id", "chunk_idx").agg(
        F.md5(
            F.expr(
                f"substr(min(t), min(p) - {_X98_WIN - 1},"
                f" max(p) - min(p) + {_X98_WIN})"
            )
        ).alias("chunk_hash"),
        (F.max("p") - F.min("p") + _X98_WIN).alias("chunk_len"),
    )
    return chunks.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_chunks"),
        F.round(
            F.sum("chunk_len").cast("double") / F.count("*"), 6
        ).alias("mean_chunk_len"),
        F.countDistinct("chunk_hash").cast("bigint").alias(
            "distinct_chunks"
        ),
        F.round(
            F.lit(1.0)
            - F.countDistinct("chunk_hash").cast("double") / F.count("*"),
            6,
        ).alias("dup_chunk_fraction"),
    )


# ---------------------------------------------------------------------------
# X99 — order-free corpus fingerprint (Merkle-style integrity check)
#
# Reproducibility's cheapest tool: a checksum that two environments
# can compare WITHOUT moving data. Per-doc identity is the shared
# md5 fold of id + content; a source subtree hash is the SUM of its
# doc digests mod 2³¹−1 (addition commutes — partition order can't
# change it — and the small Mersenne modulus keeps even a billion-
# digest sum inside BIGINT), and the
# corpus root folds the source hashes the same way. Any single-byte
# change in any document flips its digest and therefore every hash
# up the tree. One scan, two tiny aggregates.
# ---------------------------------------------------------------------------

_X99_MOD = (1 << 31) - 1  # Mersenne prime: 1e9 digests still sum inside BIGINT


def _x99_fold(expr: str) -> str:
    return _dd_fold(expr)


@register(
    "x99_corpus_fingerprint",
    oracle=f"""
WITH digests AS (
  SELECT source,
         {_x99_fold("CAST(doc_id AS VARCHAR) || '|' || text")}
           % {_X99_MOD} AS dg
  FROM documents
), subtree AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dg) % {_X99_MOD} AS BIGINT) AS source_hash
  FROM digests GROUP BY source
)
SELECT source, n_docs, source_hash,
       CAST((SELECT SUM(source_hash) % {_X99_MOD} FROM subtree) AS BIGINT)
         AS corpus_hash
FROM subtree
ORDER BY source
""",
    doc="Order-free corpus fingerprint: per-doc md5 fold of id+content, "
    "source subtree hash = sum of digests mod 2³¹−1 (commutative — "
    "partition-order-proof), corpus root folds the subtrees — the "
    "cross-environment integrity check behind x50's manifest.",
)
def x99_corpus_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.functions.hashing import md5_long

    d = table(spark, sf_dir, "documents")
    digests = d.select(
        "source",
        (
            md5_long(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit("|"), F.col("text")
                )
            )
            % _X99_MOD
        ).alias("dg"),
    )
    subtree = digests.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("dg") % _X99_MOD).cast("bigint").alias("source_hash"),
    )
    root = subtree.agg(
        (F.sum("source_hash") % _X99_MOD).cast("bigint").alias("corpus_hash")
    )
    return (
        subtree.crossJoin(F.broadcast(root))  # 1-row scalar
        .select("source", "n_docs", "source_hash", "corpus_hash")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X110 — LSH band-config cost planner
#
# x35 sweeps the retention curve AFTER mining with the production
# (4,3) banding; this answers the question you must settle BEFORE
# renting the cluster: for every (bands, rows) factorization of the
# K=12 signature, how many candidate pairs would the bucket join emit?
# Bucket sizes are computed for all five configs in ONE pass over the
# signatures (explode configs × bands, md5 band digests through the
# shuffle), and Σ sz·(sz−1)/2 per config is the exact join output
# size. s_star = (1/b)^(1/r) — the S-curve's 50% threshold — is
# evaluated at codegen time and injected as the SAME literal into both
# engines, so no cross-engine pow() in the hash-checked output.
# ---------------------------------------------------------------------------

_X110_CONFIGS = [(12, 1), (6, 2), (4, 3), (3, 4), (2, 6)]
_X110_STARS = {b: round((1.0 / b) ** (1.0 / r), 4) for b, r in _X110_CONFIGS}

_X110_DUCK_BANDS = "\n  UNION ALL\n".join(
    f"""  SELECT {b} AS n_bands, {r} AS n_rows,
         unnest([md5(array_to_string(sig[i*{r}+1:i*{r}+{r}], ','))
                 for i in range(0, {b})]) AS key
  FROM sigs"""
    for b, r in _X110_CONFIGS
)
_X110_DUCK_STAR = "CASE " + " ".join(
    f"WHEN n_bands = {b} THEN {_X110_STARS[b]}" for b, _ in _X110_CONFIGS
) + " END"


@register(
    "x110_lsh_band_planner",
    oracle=_DUCK_SIGS
    + f""", bands AS (
{_X110_DUCK_BANDS}
), buckets AS (
  SELECT n_bands, n_rows, key, CAST(COUNT(*) AS BIGINT) AS sz
  FROM bands GROUP BY 1, 2, 3
)
SELECT n_bands, n_rows,
       {_X110_DUCK_STAR} AS s_star,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_multi_buckets,
       CAST(MAX(sz) AS BIGINT) AS max_bucket,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
FROM buckets GROUP BY 1, 2 ORDER BY n_bands DESC
""",
    doc="LSH band-config planner: exact candidate-pair count "
    "Σ sz·(sz−1)/2, bucket census, and the analytic 50% threshold "
    "(1/b)^(1/r) for every (bands,rows) factorization of the K=12 "
    "MinHash signature — one signature pass, all configs exploded "
    "together, md5 digests through the shuffle.",
)
def x110_lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfgs = F.array(
        *[
            F.struct(F.lit(b).alias("b"), F.lit(r).alias("r"))
            for b, r in _X110_CONFIGS
        ]
    )
    bands = (
        _sigs_index(spark, sf_dir)
        .select("sig", F.explode(cfgs).alias("cfg"))
        .select(F.col("cfg.b").alias("b"), F.col("cfg.r").alias("r"), "sig")
        .select(
            F.col("b").alias("n_bands"),
            F.col("r").alias("n_rows"),
            F.explode(
                F.expr(
                    "transform(sequence(0, b - 1),"
                    " i -> md5(concat_ws(',', slice(sig, i * r + 1, r))))"
                )
            ).alias("key"),
        )
    )
    buckets = bands.groupBy("n_bands", "n_rows", "key").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    star = F.coalesce(
        *[
            F.when(F.col("n_bands") == b, F.lit(_X110_STARS[b]))
            for b, _ in _X110_CONFIGS
        ]
    )
    return (
        buckets.groupBy("n_bands", "n_rows")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum(F.when(F.col("sz") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_multi_buckets"),
            F.max("sz").cast("bigint").alias("max_bucket"),
            F.sum(F.expr("(sz * (sz - 1)) div 2"))
            .cast("bigint")
            .alias("candidate_pairs"),
        )
        .select(
            "n_bands",
            "n_rows",
            star.alias("s_star"),
            "n_buckets",
            "n_multi_buckets",
            "max_bucket",
            "candidate_pairs",
        )
        .orderBy(F.desc("n_bands"))
    )


# ---------------------------------------------------------------------------
# X113 — MinHash signature-width (K) sensitivity sweep
#
# x110 prices the BANDING; this prices the SIGNATURE: how much
# estimator accuracy do the last 8 of the 12 MinHash slots actually
# buy? For the same candidate-pair population as x26 (full-width
# match >= 6, so the pair set is identical at every arm), the
# K ∈ {4, 8, 12} prefix estimates are scored against exact shingle
# Jaccard — MAE, RMSE, worst case — in x26's integer micro-unit
# contract (quantize each per-pair value to 1e-6 BEFORE summing, so
# aggregate order can't move a double). Var[est] = J(1−J)/K, so MAE
# should shrink ~1/√K; a corpus where it doesn't is telling you the
# collisions are structural, not sampling noise.
#
# One signature pass, one inverted-index join (df-capped upstream),
# arms exploded as data — never one mining run per K.
# ---------------------------------------------------------------------------

_X113_KS = [4, 8, 12]


@register(
    "x113_minhash_k_sweep",
    oracle=_DUCK_SIGS
    + f""", bands AS (
  SELECT doc_id, sig, t.b AS band, {dd.duck_band_key_sql()} AS band_key
  FROM sigs CROSS JOIN (SELECT unnest(range({dd.LSH_BANDS})) AS b) t
), ok AS (
  SELECT band, band_key FROM bands GROUP BY band, band_key
  HAVING COUNT(*) <= {BUCKET_CAP}
), bands_ok AS (
  SELECT bands.* FROM bands JOIN ok USING (band, band_key)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sig AS sa, b.sig AS sb
  FROM bands_ok a JOIN bands_ok b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), est AS (
  SELECT doc_a, doc_b, sa, sb FROM cand
  WHERE len(list_filter(range({dd.MINHASH_K}), i -> sa[i+1] = sb[i+1]))
        >= {_MATCH_MIN}
), sh AS (
  SELECT doc_id, unnest({dd.duck_shingle_digests_sql()}) AS g FROM shing
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
  FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), exact AS (
  SELECT e.doc_a, e.doc_b, e.sa, e.sb,
         CAST(ROUND(CAST(COALESCE(i.c, 0) AS DOUBLE)
                    / (sx.n + sy.n - COALESCE(i.c, 0)) * 1e6) AS BIGINT)
           AS exact_micro
  FROM est e
  LEFT JOIN inter i USING (doc_a, doc_b)
  JOIN sizes sx ON e.doc_a = sx.doc_id
  JOIN sizes sy ON e.doc_b = sy.doc_id
), scored AS (
  SELECT ks.k,
         CAST(ROUND(CAST(len(list_filter(range(ks.k),
                                          i -> sa[i+1] = sb[i+1]))
                         AS DOUBLE) / ks.k * 1e6) AS BIGINT) AS est_micro,
         exact_micro
  FROM exact CROSS JOIN (VALUES (4), (8), (12)) ks(k)
)
SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(ABS(est_micro - exact_micro)) AS DOUBLE)
         / (1e6 * COUNT(*)) AS mean_abs_err,
       SQRT(CAST(SUM(CAST(ABS(est_micro - exact_micro) AS HUGEINT)
                     * ABS(est_micro - exact_micro)) AS DOUBLE)
            / COUNT(*)) / 1e6 AS rmse,
       CAST(MAX(ABS(est_micro - exact_micro)) AS DOUBLE) / 1e6
         AS max_abs_err
FROM scored GROUP BY k ORDER BY k
""",
    doc="MinHash width sweep: K=4/8/12 prefix estimates vs exact "
    "shingle Jaccard on the SAME x26 candidate population — MAE, "
    "RMSE, worst case in integer micro-units (arms as data, one "
    "mining pass). The 1/sqrt(K) check that prices signature width "
    "before a 100 TB run.",
)
def x113_minhash_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full K-lane signatures are exactly the session sig index's
    # shape — consume it instead of re-hashing the corpus per query
    sigs = _sigs_index(spark, sf_dir)
    bands = sigs.select(
        "doc_id", F.posexplode(dd.band_keys_expr()).alias("band", "band_key")
    )
    ok = (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").alias("bc"))
        .filter(F.col("bc") <= BUCKET_CAP)
        .drop("bc")
    )
    # capped band keys feed two downstream consumers (self-join
    # sides / new-old split) — pin so the posexplode + cap join run
    # once, not per consumer
    bands = bands.join(ok, ["band", "band_key"]).localCheckpoint(
        eager=True
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    pairs = cand.join(
        sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")),
        "doc_a",
    ).join(
        sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")),
        "doc_b",
    )
    full_match = F.expr(
        f"size(filter(sequence(0, {dd.MINHASH_K - 1}), i -> sa[i] = sb[i]))"
    )
    est = pairs.filter(full_match >= _MATCH_MIN)
    sh = _shingle_postings(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    x, y = sh.alias("x"), sh.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.g") == F.col("y.g"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("c"))
    )
    exact = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("nx")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("ny")),
            "doc_b",
        )
        .select(
            "sa",
            "sb",
            F.round(
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / (
                    F.col("nx")
                    + F.col("ny")
                    - F.coalesce(F.col("c"), F.lit(0))
                )
                * 1e6
            )
            .cast("bigint")
            .alias("exact_micro"),
        )
    )
    scored = exact.select(
        "exact_micro",
        F.explode(F.array(*[F.lit(k) for k in _X113_KS])).alias("k"),
        "sa",
        "sb",
    ).select(
        "k",
        "exact_micro",
        F.round(
            F.expr("size(filter(sequence(0, k - 1), i -> sa[i] = sb[i]))")
            .cast("double")
            / F.col("k")
            * 1e6
        )
        .cast("bigint")
        .alias("est_micro"),
    )
    err = F.abs(F.col("est_micro") - F.col("exact_micro"))
    return (
        scored.groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            (F.sum(err).cast("double") / (1e6 * F.count("*"))).alias(
                "mean_abs_err"
            ),
            (
                F.sqrt(
                    F.sum((err * err).cast("decimal(38,0)")).cast("double")
                    / F.count("*")
                )
                / 1e6
            ).alias("rmse"),
            (F.max(err).cast("double") / 1e6).alias("max_abs_err"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# X114 — dedup strategy decision matrix
#
# The question every curation run answers before committing compute:
# how much does each dedup strategy actually remove? One table, three
# strategies under the keep-lowest-id policy — exact md5 groups (x1),
# MinHash-LSH pairs at est ≥ 0.5 (x2), SimHash pairs at hamming ≤ 6
# (x3) — plus their union, each scored as flagged docs AND flagged
# tokens (docs lie: near-dup strategies preferentially flag long
# boilerplate docs, so token share ≠ doc share). Exact ⊆ near-dup
# recall ordering is asserted in the tests, not assumed.
#
# Both miners run their production plans (df-capped bucket joins,
# digests through the shuffle); flag sets are bare ids; every arm is
# a semi-join + one aggregate. 'any' is the union-distinct of ids,
# never of pair lists.
# ---------------------------------------------------------------------------

_X114_SIMHASH_CTES = f""", sfp AS (
  SELECT doc_id, {dd.duck_simhash_sql()} AS simhash
  FROM (SELECT b.doc_id, {dd.duck_token_hash_sql()} AS hs FROM base b)
), sbands AS (
  SELECT doc_id, simhash,
         t.k AS band, (simhash // power(256, t.k)::BIGINT) % 256 AS byte
  FROM sfp CROSS JOIN (SELECT unnest(range({dd.SIMHASH_BYTE_BANDS})) AS k) t
), sok AS (
  SELECT band, byte FROM sbands GROUP BY band, byte
  HAVING COUNT(*) <= {BUCKET_CAP}
), sbands_ok AS (
  SELECT sbands.* FROM sbands JOIN sok USING (band, byte)
), sh_flag AS (
  SELECT DISTINCT b.doc_id
  FROM sbands_ok a JOIN sbands_ok b
    ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
)"""


@register(
    "x114_dedup_strategy_matrix",
    oracle=_DUCK_PAIR_CTES
    + f""", mh_flag AS (
  SELECT DISTINCT doc_b AS doc_id FROM cand
  WHERE len(list_filter(range({dd.MINHASH_K}), i -> sa[i+1] = sb[i+1]))
        >= {_MATCH_MIN}
){_X114_SIMHASH_CTES}, ex_flag AS (
  SELECT d.doc_id
  FROM documents d
  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keeper
        FROM documents GROUP BY 1) g
    ON md5(d.text) = g.h AND d.doc_id > g.keeper
), toks AS (
  SELECT doc_id,
         CAST(len(string_split({dd.NORM_DUCK.format(col="text")}, ' '))
              AS BIGINT) AS n
  FROM documents
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(n) AS BIGINT) AS nt
  FROM toks
), any_flag AS (
  SELECT doc_id FROM ex_flag UNION
  SELECT doc_id FROM mh_flag UNION
  SELECT doc_id FROM sh_flag
), arms AS (
  SELECT 'exact' AS strategy, doc_id FROM ex_flag UNION ALL
  SELECT 'minhash', doc_id FROM mh_flag UNION ALL
  SELECT 'simhash', doc_id FROM sh_flag UNION ALL
  SELECT 'any', doc_id FROM any_flag
)
, stats AS (
  SELECT strategy,
         CAST(COUNT(*) AS BIGINT) AS n_flagged_docs,
         CAST(SUM(t.n) AS BIGINT) AS flagged_tokens,
         ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(nd), 4) AS pct_docs,
         ROUND(CAST(SUM(t.n) AS DOUBLE) / ANY_VALUE(nt), 4) AS pct_tokens
  FROM arms JOIN toks t USING (doc_id) CROSS JOIN tot
  GROUP BY strategy
)
-- total over strategies: a strategy that flags nothing must still
-- report an explicit zero row, not vanish
SELECT s.strategy,
       COALESCE(n_flagged_docs, 0) AS n_flagged_docs,
       COALESCE(flagged_tokens, 0) AS flagged_tokens,
       COALESCE(pct_docs, 0.0) AS pct_docs,
       COALESCE(pct_tokens, 0.0) AS pct_tokens
FROM (VALUES ('exact'), ('minhash'), ('simhash'), ('any')) s(strategy)
LEFT JOIN stats USING (strategy)
ORDER BY s.strategy
""",
    doc="Dedup strategy matrix: flagged docs AND tokens under "
    "keep-lowest-id for exact md5 (x1), MinHash-LSH est>=0.5 (x2), "
    "SimHash hamming<=6 (x3), and their union — the "
    "removal-volume decision table; production miner plans, "
    "id-only flag sets, one semi-join + aggregate per arm.",
)
def x114_dedup_strategy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    keepers = d.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keeper")
    )
    ex_flag = (
        d.select("doc_id", F.md5("text").alias("h"))
        .join(keepers, "h")
        .filter(F.col("doc_id") > F.col("keeper"))
        .select("doc_id")
    )
    mh_flag = (
        _lsh_pair_matches(spark, sf_dir)
        .filter(F.col("nm") >= _MATCH_MIN)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    sh_flag = (
        x3_simhash_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    any_flag = ex_flag.unionByName(mh_flag).unionByName(sh_flag).distinct()
    toks = d.select(
        "doc_id",
        F.size(F.split(F.expr(dd.NORM_SPARK.format(col="text")), " "))
        .cast("bigint")
        .alias("n"),
    )
    tot = toks.agg(
        F.count("*").cast("bigint").alias("nd"),
        F.sum("n").cast("bigint").alias("nt"),
    )
    arms = (
        ex_flag.select(F.lit("exact").alias("strategy"), "doc_id")
        .unionByName(mh_flag.select(F.lit("minhash").alias("strategy"), "doc_id"))
        .unionByName(sh_flag.select(F.lit("simhash").alias("strategy"), "doc_id"))
        .unionByName(any_flag.select(F.lit("any").alias("strategy"), "doc_id"))
    )
    stats = (
        arms.join(toks, "doc_id")
        .crossJoin(F.broadcast(tot))
        .groupBy("strategy")
        .agg(
            F.count("*").cast("bigint").alias("n_flagged_docs"),
            F.sum("n").cast("bigint").alias("flagged_tokens"),
            F.round(
                F.count("*").cast("double") / F.first("nd"), 4
            ).alias("pct_docs"),
            F.round(
                F.sum("n").cast("double") / F.first("nt"), 4
            ).alias("pct_tokens"),
        )
    )
    # total over strategies: a strategy that flags nothing must still
    # report an explicit zero row, not vanish
    dim = spark.range(1).select(
        F.explode(
            F.array(
                F.lit("exact"), F.lit("minhash"), F.lit("simhash"), F.lit("any")
            )
        ).alias("strategy")
    )
    return (
        dim.join(F.broadcast(stats), "strategy", "left")
        .select(
            "strategy",
            F.coalesce(F.col("n_flagged_docs"), F.lit(0).cast("bigint")).alias(
                "n_flagged_docs"
            ),
            F.coalesce(F.col("flagged_tokens"), F.lit(0).cast("bigint")).alias(
                "flagged_tokens"
            ),
            F.coalesce(F.col("pct_docs"), F.lit(0.0)).alias("pct_docs"),
            F.coalesce(F.col("pct_tokens"), F.lit(0.0)).alias("pct_tokens"),
        )
        .orderBy("strategy")
    )


# ---------------------------------------------------------------------------
# X115 — near-dup graph hub census (degree distribution)
#
# x36 sizes the components and x71 counts triangles; neither answers
# the QA question that decides whether keep-lowest-id is SAFE: are
# there hub documents with pathological degree (boilerplate
# attractors that glue unrelated docs into one giant component)? The
# per-doc degree over x2's pair graph (est ≥ 0.5), censused into
# degree bands with each band's exact degree range and edge-endpoint
# share. A fat 11+ band says: mine templates (x46) and strip
# boilerplate BEFORE clustering, or the union-find will chain.
#
# Degrees are one explode + count over id pairs (digest-capped miner
# upstream); the census is a band-grain rollup. Nothing data-sized
# sorts or broadcasts.
# ---------------------------------------------------------------------------


@register(
    "x115_dup_graph_hubs",
    oracle=_DUCK_PAIR_CTES
    + f""", pairs AS (
  SELECT doc_a, doc_b FROM cand
  WHERE len(list_filter(range({dd.MINHASH_K}), i -> sa[i+1] = sb[i+1]))
        >= {_MATCH_MIN}
), deg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs)
  GROUP BY 1
)
SELECT CASE WHEN degree = 1 THEN '1'
            WHEN degree = 2 THEN '2'
            WHEN degree <= 5 THEN '3-5'
            WHEN degree <= 10 THEN '6-10'
            ELSE '11+' END AS degree_band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(degree) AS BIGINT) AS min_degree,
       CAST(MAX(degree) AS BIGINT) AS max_degree,
       CAST(SUM(degree) AS BIGINT) AS endpoint_share
FROM deg GROUP BY 1 ORDER BY min_degree
""",
    doc="Near-dup graph degree census over x2's pair miner: docs per "
    "degree band with exact degree ranges and endpoint share — the "
    "hub/boilerplate-attractor audit that decides whether "
    "keep-lowest-id clustering is safe; explode + two rollups, no "
    "sort.",
)
def x115_dup_graph_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _lsh_pair_matches(spark, sf_dir).filter(
        F.col("nm") >= _MATCH_MIN
    )
    ends = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("degree")
    )
    band = (
        F.when(F.col("degree") == 1, "1")
        .when(F.col("degree") == 2, "2")
        .when(F.col("degree") <= 5, "3-5")
        .when(F.col("degree") <= 10, "6-10")
        .otherwise("11+")
    )
    return (
        deg.groupBy(band.alias("degree_band"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
            F.sum("degree").cast("bigint").alias("endpoint_share"),
        )
        .orderBy("min_degree")
    )


# ---------------------------------------------------------------------------
# X117/X118 — deterministic HyperLogLog (hash-checkable, mergeable)
#
# f2_approx_count_distinct wraps Spark's approx_count_distinct, whose
# sketch internals are engine-private — it can only ever earn a
# rows-only driver check. These two queries implement the HLL
# estimator itself (Flajolet et al. 2007) from engine-neutral
# primitives, so the WHOLE sketch — registers, harmonic sum, estimate
# — is reproduced bit-for-bit by the DuckDB oracle:
#
#   h      = 60-bit fold of md5(key)          (same trick as x61)
#   idx    = h div 2^51    — top 9 bits → m = 512 registers
#   rest   = h mod 2^51    — 51-bit tail
#   rho    = leading zeros of rest in a 51-bit field + 1
#          = 52 - length(bin(rest)), or 52 when rest = 0
#   M[idx] = max(rho)      — the register table
#
# The harmonic mean is kept EXACT until the last step: sum(2^-M[j]) is
# accumulated as the integer sum(2^(52-M[j])) (every term a bigint
# shift), so no float ever enters a shuffle. The final estimate
# alpha_512 * m^2 * 2^52 / sum_scaled is one double expression over
# identical integers with identical literal parsing and operator order
# in both engines — bit-identical output, no libm (the small-range
# ln() correction is deliberately omitted and rel_err reported
# honestly instead). Scale shape: the register table is ≤ m rows
# regardless of input size, the groupBy(idx) is a 512-key aggregate
# with map-side partials, and X118 proves the property that matters at
# 100 TB — registers max-merge across shards, so a fleet can sketch
# per split and combine on the driver.
# ---------------------------------------------------------------------------

from calaveras_uniteus_etl_spark.plans.queries_multimodal import (  # noqa: E402
    _duck_fold,
)

from calaveras_uniteus_etl_spark.operators.sketches import (  # noqa: E402
    HLL_2P52 as _HLL_2P52,
    HLL_EST_SQL as _HLL_EST_SQL,
    HLL_M as _HLL_M,
    HLL_TAIL as _HLL_TAIL,
    hll_distinct,
    hll_merge,
    hll_registers,
    hll_summarize,
)

_HLL_POW = 1 << _HLL_TAIL

_HLL_KEY_DUCK = "CAST(event_id AS VARCHAR)"


def _duck_hll_regs(key: str, src: str) -> str:
    """CTE body producing (idx, r) pairs from ``src``."""
    fold = _duck_fold(f"substr(md5({key}), 1, 15)")
    return f"""
  SELECT CAST(h // {_HLL_POW} AS INT) AS idx,
         CAST(CASE WHEN h % {_HLL_POW} = 0 THEN {_HLL_TAIL + 1}
              ELSE {_HLL_TAIL + 1} - length(bin(h % {_HLL_POW})) END AS INT) AS r
  FROM (SELECT {fold} AS h FROM {src})
"""


_HLL_SUMMARY_COLS = """
       CAST({m} AS BIGINT) AS m,
       n_exact,
       n_registers_set,
       sum_scaled,
       {est} AS hll_estimate,
       ABS({est} - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
         AS rel_err
"""


@register(
    "x117_hll_registers",
    oracle=f"""
WITH pairs AS ({_duck_hll_regs(_HLL_KEY_DUCK, "events")}),
regs AS (
  SELECT idx, MAX(r) AS mr FROM pairs GROUP BY idx
), s AS (
  SELECT COUNT(*) AS n_registers_set,
         CAST(SUM(1::BIGINT << (52 - mr)) +
              ({_HLL_M} - COUNT(*)) * {_HLL_2P52}::BIGINT AS BIGINT)
           AS sum_scaled
  FROM regs
), ex AS (
  SELECT COUNT(DISTINCT event_id) AS n_exact FROM events
)
SELECT {_HLL_SUMMARY_COLS.format(m=_HLL_M, est=_HLL_EST_SQL)}
FROM s CROSS JOIN ex
""",
    doc="Deterministic HyperLogLog over event ids: md5-fold hash, "
    f"m={_HLL_M} registers via max(rho), EXACT integer harmonic sum "
    "(2^(52-M[j]) bigint shifts), one final double division — the "
    "whole sketch hash-checkable against the oracle, unlike the "
    "engine-private approx_count_distinct (f2).",
)
def x117_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    s = hll_distinct(e, "event_id")
    ex = e.agg(F.countDistinct("event_id").alias("n_exact"))
    est = F.expr(_HLL_EST_SQL)
    return s.drop("hll_estimate").crossJoin(F.broadcast(ex)).select(
        F.lit(_HLL_M).cast("bigint").alias("m"),
        "n_exact",
        "n_registers_set",
        "sum_scaled",
        est.alias("hll_estimate"),
        (
            F.abs(est - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double")
        ).alias("rel_err"),
    )


_HLL_SHARDS = 4


@register(
    "x118_hll_shard_merge",
    oracle=f"""
WITH pairs AS (
  SELECT CAST(event_id % {_HLL_SHARDS} AS INT) AS shard,
         CAST(h // {_HLL_POW} AS INT) AS idx,
         CAST(CASE WHEN h % {_HLL_POW} = 0 THEN {_HLL_TAIL + 1}
              ELSE {_HLL_TAIL + 1} - length(bin(h % {_HLL_POW})) END AS INT) AS r
  FROM (SELECT event_id,
               {_duck_fold(f"substr(md5({_HLL_KEY_DUCK}), 1, 15)")} AS h
        FROM events)
), shard_regs AS (
  SELECT shard, idx, MAX(r) AS mr FROM pairs GROUP BY shard, idx
), merged_regs AS (
  SELECT idx, MAX(mr) AS mr FROM shard_regs GROUP BY idx
), shard_s AS (
  SELECT CAST(shard AS VARCHAR) AS scope,
         COUNT(*) AS n_registers_set,
         CAST(SUM(1::BIGINT << (52 - mr)) +
              ({_HLL_M} - COUNT(*)) * {_HLL_2P52}::BIGINT AS BIGINT)
           AS sum_scaled
  FROM shard_regs GROUP BY shard
), merged_s AS (
  SELECT 'merged' AS scope,
         COUNT(*) AS n_registers_set,
         CAST(SUM(1::BIGINT << (52 - mr)) +
              ({_HLL_M} - COUNT(*)) * {_HLL_2P52}::BIGINT AS BIGINT)
           AS sum_scaled
  FROM merged_regs
), allscopes AS (
  SELECT * FROM shard_s UNION ALL SELECT * FROM merged_s
), ex AS (
  SELECT CAST(event_id % {_HLL_SHARDS} AS VARCHAR) AS scope,
         COUNT(DISTINCT event_id) AS n_exact
  FROM events GROUP BY 1
  UNION ALL
  SELECT 'merged', COUNT(DISTINCT event_id) FROM events
)
SELECT allscopes.scope,
       n_exact,
       n_registers_set,
       sum_scaled,
       {_HLL_EST_SQL} AS hll_estimate,
       ABS({_HLL_EST_SQL} - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
         AS rel_err
FROM allscopes JOIN ex ON allscopes.scope = ex.scope
ORDER BY allscopes.scope
""",
    doc="HLL mergeability, the property that matters at 100 TB: "
    f"registers built per shard (event_id % {_HLL_SHARDS}), max-merged "
    "into a combined sketch whose estimate is computed from the SAME "
    "exact-integer pipeline as x117 — per-shard and merged rows side "
    "by side with their true counts.",
)
def x118_hll_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").withColumn(
        "shard", (F.col("event_id") % _HLL_SHARDS).cast("int")
    )
    shard_regs = hll_registers(e, "event_id", "shard")
    merged_regs = hll_merge(shard_regs)
    s = (
        hll_summarize(shard_regs, "shard")
        .select(
            F.col("shard").cast("string").alias("scope"),
            "n_registers_set",
            "sum_scaled",
        )
        .unionByName(
            hll_summarize(merged_regs).select(
                F.lit("merged").alias("scope"),
                "n_registers_set",
                "sum_scaled",
            )
        )
    )
    ex = (
        e.groupBy((F.col("event_id") % _HLL_SHARDS).cast("string").alias("scope"))
        .agg(F.countDistinct("event_id").alias("n_exact"))
        .unionByName(
            e.agg(F.countDistinct("event_id").alias("n_exact")).select(
                F.lit("merged").alias("scope"), "n_exact"
            )
        )
    )
    est = F.expr(_HLL_EST_SQL)
    return (
        s.join(F.broadcast(ex), "scope")
        .select(
            "scope",
            "n_exact",
            "n_registers_set",
            "sum_scaled",
            est.alias("hll_estimate"),
            (
                F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double")
            ).alias("rel_err"),
        )
        .orderBy("scope")
    )


# ---------------------------------------------------------------------------
# X122 — grouped HLL: per-source distinct-term estimates
#
# The sketch composed with GROUP BY — the production shape for
# cardinality monitoring (distinct terms per source, distinct users
# per day) where exact COUNT(DISTINCT) would shuffle every token.
# Registers live at the (source, idx) grain: |sources| x 512 rows no
# matter how many tokens flow in, one map-side-combined aggregate.
# Same exact-integer pipeline as x117 (the estimate divides identical
# integers), with the per-source exact count alongside as the audit.
# ---------------------------------------------------------------------------


@register(
    "x122_grouped_hll",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT source, t AS term FROM (
    SELECT source,
           unnest(string_split({dd.NORM_DUCK.format(col="text")}, ' ')) AS t
    FROM documents)
), pairs AS (
  SELECT source,
         CAST(h // {_HLL_POW} AS INT) AS idx,
         CAST(CASE WHEN h % {_HLL_POW} = 0 THEN {_HLL_TAIL + 1}
              ELSE {_HLL_TAIL + 1} - length(bin(h % {_HLL_POW})) END AS INT) AS r
  FROM (SELECT source,
               {_duck_fold("substr(md5(term), 1, 15)")} AS h
        FROM toks)
), regs AS (
  SELECT source, idx, MAX(r) AS mr FROM pairs GROUP BY source, idx
), s AS (
  SELECT source,
         COUNT(*) AS n_registers_set,
         CAST(SUM(1::BIGINT << (52 - mr)) +
              ({_HLL_M} - COUNT(*)) * {_HLL_2P52}::BIGINT AS BIGINT)
           AS sum_scaled
  FROM regs GROUP BY source
), ex AS (
  SELECT source, COUNT(*) AS n_exact FROM toks GROUP BY source
)
SELECT s.source,
       n_exact,
       n_registers_set,
       sum_scaled,
       {_HLL_EST_SQL} AS hll_estimate,
       ABS({_HLL_EST_SQL} - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
         AS rel_err
FROM s JOIN ex ON ex.source = s.source
ORDER BY s.source
""",
    doc="Per-source distinct-term HLL (the sketch composed with "
    "GROUP BY): registers at the (source, idx) grain — |sources|x512 "
    "rows at any corpus size, one map-side aggregate — same "
    "exact-integer estimate pipeline as x117, exact counts alongside "
    "as the audit.",
)
def x122_grouped_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_wide(spark, sf_dir)
    toks = d.select(
        "source",
        F.explode(
            F.expr(f"split({dd.NORM_SPARK.format(col='text')}, ' ')")
        ).alias("term"),
    ).distinct()
    s = hll_distinct(toks, "term", "source").drop("hll_estimate")
    ex = toks.groupBy("source").agg(F.count("*").alias("n_exact"))
    est = F.expr(_HLL_EST_SQL)
    return (
        s.join(ex, "source")
        .select(
            "source",
            "n_exact",
            "n_registers_set",
            "sum_scaled",
            est.alias("hll_estimate"),
            (
                F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double")
            ).alias("rel_err"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X137 — winnowing: minimizer fingerprint selection (MOSS)
#
# The shingle pipeline (x2/x10) fingerprints EVERY k-gram; winnowing
# (Schleimer/Wilkerson/Aiken 2003 — the MOSS algorithm) keeps a
# guaranteed subset: in every window of w consecutive k-gram hashes,
# keep the minimum (rightmost on ties). Any match of length ≥ w+k−1
# words stays detectable while only ~2/(w+1) of grams are stored.
#
# Relational trick: encode (hash, rightmost-tie) as ONE integer key
# k = h_small·C − pos (h folded to 40 bits so the product fits BIGINT;
# pos < C). The winner of the window anchored at position a is
# min(key) over [a, a+w−1], and because the key ENCODES the position,
# the winning position recovers as (−min_key) mod C — so the selected
# set is just DISTINCT (doc, (−win_min) mod C) over valid anchors: one
# doc-partitioned look-ahead window, no self-join, no second pass.
# Output: per-source totals, selection density beside the 2/(w+1)
# theory, distinct selected digests.
# ---------------------------------------------------------------------------

_X137_K = 5  # words per shingle
_X137_W = 4  # winnowing window, in grams
_X137_C = 2_000_000  # position modulus (> max grams/doc by construction)
_X137_HMOD = 1 << 40  # fold the 60-bit hash so key = h*C - pos fits BIGINT

from calaveras_uniteus_etl_spark.functions.hashing import (  # noqa: E402
    duckdb_md5_long_sql as _x137_md5sql,
)

# DuckDB twin of the Spark gram expression concat_ws(' ', slice(w,i,K))
_duck_fold_sql_x137 = _x137_md5sql(
    f"array_to_string(w[i:i+{_X137_K - 1}], ' ')"
)


@register(
    "x137_winnowing",
    oracle=f"""
WITH docs AS (
  SELECT source, doc_id,
         string_split({dd.NORM_DUCK.format(col="text")}, ' ') AS w
  FROM documents
), grams AS (
  SELECT source, doc_id, i AS pos,
         ({_duck_fold_sql_x137}) % {_X137_HMOD} AS h
  FROM docs, unnest(range(1, len(w) - {_X137_K} + 2)) AS t(i)
  WHERE len(w) >= {_X137_K}
), keyed AS (
  SELECT source, doc_id, pos, h,
         h * {_X137_C} - pos AS key,
         MAX(pos) OVER (PARTITION BY doc_id) AS max_pos
  FROM grams
), anchors AS (
  SELECT doc_id,
         ((((- MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND {_X137_W - 1} FOLLOWING)))
           % {_X137_C}) + {_X137_C}) % {_X137_C} AS win_pos,
         pos, max_pos
  FROM keyed
), chosen AS (
  SELECT DISTINCT a.doc_id, a.win_pos AS pos
  FROM anchors a
  WHERE a.pos <= a.max_pos - {_X137_W - 1}
), picked AS (
  SELECT k.source, k.doc_id, k.pos, k.h
  FROM keyed k JOIN chosen c ON c.doc_id = k.doc_id AND c.pos = k.pos
)
SELECT g.source,
       CAST(COUNT(*) AS BIGINT) AS total_grams,
       CAST((SELECT COUNT(*) FROM picked p
             WHERE p.source = g.source) AS BIGINT) AS selected,
       ROUND(CAST((SELECT COUNT(*) FROM picked p
                   WHERE p.source = g.source) AS DOUBLE)
             / COUNT(*), 6) AS density,
       ROUND(2.0 / ({_X137_W} + 1), 6) AS density_theory,
       CAST((SELECT COUNT(DISTINCT p.h) FROM picked p
             WHERE p.source = g.source) AS BIGINT) AS distinct_digests
FROM grams g
GROUP BY g.source
ORDER BY g.source
""",
    doc=f"Winnowing (MOSS): word-{_X137_K}-gram hashes folded to 40 "
    f"bits, window-of-{_X137_W} minimizers with the rightmost-tie rule "
    "encoded in one integer key h·C − pos whose argmin POSITION "
    "recovers as (−min) mod C — one doc-partitioned look-ahead window, "
    "no self-join; per-source selection density beside the 2/(w+1) "
    "theory — the guaranteed-coverage fingerprint subset for matches "
    f"≥ {_X137_W + _X137_K - 1} words.",
)
def x137_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lazy import: queries_text transitively imports this module via
    # queries_multimodal, so the tokenized-corpus artifact is resolved
    # at call time, not at module import
    from calaveras_uniteus_etl_spark.plans.queries_text import _tok_index

    # Winnowing state is strictly PER DOCUMENT (the sliding min runs
    # over a doc's own gram sequence), so the whole selection computes
    # inside array expressions — no doc_id exchange, no gram-relation
    # checkpoint, no anchor distinct, no picked join-back (§2.4: the
    # former shape shuffled and pinned every gram just to run two
    # doc-keyed windows whose partitions were single documents). Per
    # doc: hs = folded gram hashes, keys[p] = h·C − p, anchor p picks
    # pmod(−min(keys[p..p+W−1]), C) ≡ the position of the window's
    # min-key gram, and array_distinct reproduces the DISTINCT over
    # anchor picks. Arrays are doc-length-bounded — the same bound the
    # per-doc window partitions had — so this is scale-safe.
    md5_fold = (
        f"cast(conv(substr(md5(concat_ws(' ', slice(w, i, {_X137_K}))), 1, 15),"
        f" 16, 10) as bigint) % {_X137_HMOD}"
    )
    per_doc = (
        _tok_index(spark, sf_dir)
        .select("source", "w")
        .filter(F.size("w") >= _X137_K)
        .select(
            "source",
            F.expr(
                f"transform(sequence(1, size(w) - {_X137_K} + 1), i -> {md5_fold})"
            ).alias("hs"),
        )
        .select(
            "source",
            F.size("hs").alias("n_grams"),
            F.expr(
                f"""
                case when size(hs) >= {_X137_W} then
                  transform(
                    array_distinct(transform(
                      sequence(1, size(hs) - {_X137_W} + 1),
                      p -> pmod(-array_min(transform(
                             sequence(p, p + {_X137_W} - 1),
                             q -> hs[q - 1] * cast({_X137_C} as bigint) - q)),
                           cast({_X137_C} as bigint)))),
                    p -> hs[cast(p as int) - 1])
                else array() end
                """
            ).alias("picked_hs"),
        )
    )
    # ONE pass, ONE aggregate: posexplode_outer keeps a (null-pick)
    # row for docs too short to anchor, so per-doc gram totals ride
    # the pick rows (counted once, at pick index 0 / the null row) and
    # both rollups fuse — no checkpoint, no broadcast join of two
    # aggregates over the same relation.
    rows = per_doc.select(
        "source",
        "n_grams",
        F.posexplode_outer("picked_hs").alias("pidx", "h"),
    )
    first_row = F.col("pidx").isNull() | (F.col("pidx") == 0)
    agg = rows.groupBy("source").agg(
        F.sum(F.when(first_row, F.col("n_grams")).otherwise(0))
        .cast("bigint")
        .alias("total_grams"),
        F.count("h").cast("bigint").alias("selected"),
        F.countDistinct("h").cast("bigint").alias("distinct_digests"),
    )
    return agg.select(
        "source",
        "total_grams",
        "selected",
        F.round(
            F.col("selected").cast("double") / F.col("total_grams"), 6
        ).alias("density"),
        F.round(F.lit(2.0) / (_X137_W + 1), 6).alias("density_theory"),
        "distinct_digests",
    ).orderBy("source")


# ---------------------------------------------------------------------------
# X141 — source-pair contamination matrix (corpus-level containment)
#
# x48 probes specific benchmark spans and x65 flags doc-inside-doc
# containment; curation ALSO needs the corpus-level view: how much of
# source A's shingle vocabulary appears anywhere in source B (the
# "is dataset X already inside dataset Y" audit run before mixing
# corpora). Grain: the distinct (source, shingle-digest) relation —
# shingles are md5-folded to 60-bit keys once (no text shuffles), the
# equi-join on the digest fans out per shingle only to the sources
# that share it (≤ |sources|² pairs per shingle, a bounded dimension),
# and the matrix itself is dimension-grain output.
# ---------------------------------------------------------------------------


@register(
    "x141_source_containment",
    oracle=f"""
WITH base AS (
  SELECT source, {dd.NORM_DUCK.format(col="text")} AS norm,
         string_split({dd.NORM_DUCK.format(col="text")}, ' ') AS w
  FROM documents
), shing AS (
  SELECT source,
         CASE WHEN len(w) >= {dd.SHINGLE_WORDS} THEN
           list_distinct(list_transform(
             range(1, len(w) - {dd.SHINGLE_WORDS - 2}),
             i -> {" || ' ' || ".join(f"w[i+{j}]" for j in range(dd.SHINGLE_WORDS))}))
         ELSE [norm] END AS shingles
  FROM base
), sh AS (
  SELECT DISTINCT source, {dd.duckdb_md5_long_sql("g")} AS h
  FROM (SELECT source, unnest(shingles) AS g FROM shing)
), sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM sh GROUP BY source
), common AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT c.src_a, c.src_b, c.n_common,
       sa.n_shingles AS n_a, sb.n_shingles AS n_b,
       ROUND(CAST(c.n_common AS DOUBLE) / sa.n_shingles, 6) AS containment_a,
       ROUND(CAST(c.n_common AS DOUBLE) / sb.n_shingles, 6) AS containment_b,
       ROUND(CAST(c.n_common AS DOUBLE)
             / (sa.n_shingles + sb.n_shingles - c.n_common), 6) AS jaccard
FROM common c
JOIN sizes sa ON sa.source = c.src_a
JOIN sizes sb ON sb.source = c.src_b
ORDER BY src_a, src_b
""",
    doc="Source-pair contamination matrix: distinct shingle-digest "
    "vocabulary per source, pairwise intersection via one digest "
    "equi-join (never text), directional containment and Jaccard per "
    "ordered source pair — the pre-mixing corpus-overlap audit.",
)
def x141_source_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The distinct (source, digest) vocabulary off the session-indexed
    # postings (one md5 pass per corpus); pinned because it feeds the
    # size counts AND the pairwise census.
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    sh = (
        _shingle_postings(spark, sf_dir)
        .join(src, "doc_id")
        .select("source", F.col("g").alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    # common shingles without the digest self-join: each digest's
    # sorted source list (≤ |sources| entries) emits its ascending
    # pairs via a nested transform — the SMJ's exchange + two sorts
    # over every (source, digest) row collapse into one groupBy(h)
    # exchange and a map-side pair count (guide §2.4; the e15 shape)
    per_h = sh.groupBy("h").agg(
        F.sort_array(F.collect_list("source")).alias("ss")
    )
    common = (
        per_h.filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(ss) - 2), i -> "
                    "transform(sequence(i + 1, size(ss) - 1), j -> "
                    "struct(ss[i] as src_a, ss[j] as src_b))))"
                )
            ).alias("t")
        )
        .groupBy(F.col("t.src_a").alias("src_a"), F.col("t.src_b").alias("src_b"))
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("n_shingles").alias("n_b")
    )
    nc = F.col("n_common").cast("double")
    return (
        common.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(nc / F.col("n_a"), 6).alias("containment_a"),
            F.round(nc / F.col("n_b"), 6).alias("containment_b"),
            F.round(
                nc / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# X142 — soft dedup: duplicate-count downweighting instead of removal
#
# Hard dedup (x14's keeper selection) throws occurrences away; the
# soft alternative keeps EVERY document and downweights it by its
# near-dup cluster size (weight 1/|cluster|), preserving corpus
# diversity while equalizing duplicated mass — the reweighting view of
# dedup used by data-mixture work. Weights are micro-quantized
# (⌊10⁶/|cluster|⌋, an integer) so every per-source mass is an EXACT
# bigint sum — no float summation-order drift — divided once at the
# end. Reuses the session-indexed component labels (the iterative
# fixpoint is built once per corpus) and the x14 recursive-CTE oracle.
# ---------------------------------------------------------------------------


@register(
    "x142_soft_dedup_weights",
    oracle=_duck_reach_sql()
    + f""", sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS sz FROM reach GROUP BY component
), weighted AS (
  SELECT d.source,
         len(string_split({dd.NORM_DUCK.format(col="d.text")}, ' '))
           AS n_tokens,
         CASE WHEN r.node IS NOT NULL THEN 1 ELSE 0 END AS clustered,
         1000000 // COALESCE(s.sz, 1) AS w_micro
  FROM documents d
  LEFT JOIN reach r ON r.node = d.doc_id
  LEFT JOIN sizes s ON s.component = r.component
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(clustered) AS BIGINT) AS n_clustered,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens,
       ROUND(CAST(SUM(n_tokens * w_micro) AS DOUBLE) / 1000000, 6)
         AS eff_tokens,
       ROUND(CAST(SUM(n_tokens * w_micro) AS DOUBLE) / 1000000
             / SUM(n_tokens), 6) AS retention
FROM weighted
GROUP BY source
ORDER BY source
""",
    doc="Soft dedup: every document kept, weighted 1/|near-dup "
    "cluster| (micro-quantized so per-source masses are exact integer "
    "sums); per-source raw vs effective token mass and the retention "
    "ratio — the reweighting alternative to x14's keeper deletion.",
)
def x142_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = dd.with_shingles(_docs_wide(spark, sf_dir)).select(
        "doc_id",
        "source",
        F.size(F.split("norm", " ")).cast("bigint").alias("n_tokens"),
    )
    labels = _neardup_labels(spark, sf_dir)
    sizes = labels.groupBy("lbl").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    weighted = (
        d.join(labels, d.doc_id == labels.node, "left")
        .join(F.broadcast(sizes), "lbl", "left")
        .select(
            "source",
            "n_tokens",
            F.when(F.col("node").isNotNull(), 1).otherwise(0).alias(
                "clustered"
            ),
            F.expr("1000000 div coalesce(sz, 1)").alias("w_micro"),
        )
    )
    return (
        weighted.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("clustered").cast("bigint").alias("n_clustered"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
            F.round(
                F.sum(F.col("n_tokens") * F.col("w_micro")).cast("double")
                / F.lit(1000000),
                6,
            ).alias("eff_tokens"),
            F.round(
                F.sum(F.col("n_tokens") * F.col("w_micro")).cast("double")
                / F.lit(1000000)
                / F.sum("n_tokens"),
                6,
            ).alias("retention"),
        )
        .orderBy("source")
    )
