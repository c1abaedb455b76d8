"""Deduplication operators (SURVEY.md §2.6 O6, §2.5 A6, plus the
north-star near-duplicate family: MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine).

Reference semantics being generalized:

* ``dedupe_by_tmdb_id`` (``/root/reference/02_etl.py:224-231``) — dict
  overwrite keyed by id, "preserving the latest occurrence": **last-wins
  keyed dedup**. A bare ``dropDuplicates`` is NOT equivalent (it keeps an
  arbitrary row); the faithful rendering is an order-aware window.
* ``print_duplicate_movie_ids`` (``02_etl.py:233-244``) — report keys
  appearing more than once in a batch.

Scale posture: every operator here is a single hash shuffle on the key
(window or groupBy) with map-side partial aggregation where applicable;
the near-dup operators generate candidates by *token/band bucket joins*,
never by cross join, so candidate count scales with bucket collisions
(near-linear for natural corpora) instead of O(n²).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.functions import portable_hash as ph
from movie_data_etl_pipeline_spark.functions.text import shingles
from movie_data_etl_pipeline_spark.sources.parquet import ensure_min_partitions


class HashFamily(NamedTuple):
    """The three hash expressions the near-dup operators depend on, plus
    the SimHash width their codomain supports. Every hash-dependent
    operator below takes one as ``family``; the plan shape is the same
    for every family, only these expressions differ."""

    value: Callable[[Column | str], Column]  # string -> int64
    slot: Callable[[Column, Column], Column]  # (minhash slot, value) -> int64
    band: Callable[[Column, Column], Column]  # (signature slice, band) -> bucket
    simhash_bits: int


# production: Spark's 64-bit xxHash, one JVM intrinsic per value, with
# the slot / band id mixed in as a seed argument
XXH = HashFamily(F.xxhash64, F.xxhash64, F.xxhash64, 64)

# oracle-provable: engine-portable arithmetic (``functions.portable_hash``
# — a polynomial string fold, LCG permutations and a slice fold, all mod
# 2^31-1) that DuckDB reproduces value-for-value, so which pairs collide
# can be hash-checked, not just counted. O(chars) arithmetic per value vs
# one intrinsic: the verification family, not the 100 TB hot path. The
# codomain is [0, 2^31-1), so SimHash uses 28 bits (4 x 7-bit chunks).
PORTABLE = HashFamily(
    ph.str_hash, ph.lcg_perm, lambda sl, b: ph.fold_longs(sl), 28
)

# ---------------------------------------------------------------------------
# Exact / keyed dedup
# ---------------------------------------------------------------------------


def dedup_last_wins(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[Column | str],
) -> DataFrame:
    """Keep, per key, the row that is *latest* under ``order_cols``
    (pass e.g. ``[F.desc("ts"), F.desc("event_id")]`` — highest wins;
    include a unique tiebreaker for determinism).

    Faithful generalization of ``dedupe_by_tmdb_id``
    (``02_etl.py:224-231``): the reference's dict-overwrite keeps the
    latest arrival; here "arrival order" is made explicit as columns.
    One shuffle on the key; no driver involvement.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact(df: DataFrame, on: Sequence[str], keep_min_of: str) -> DataFrame:
    """Exact-duplicate removal over content columns ``on``, keeping the
    row with the smallest ``keep_min_of`` (deterministic canonical
    representative — unlike ``dropDuplicates``)."""
    return dedup_last_wins(df, on, [F.asc(keep_min_of)])


def duplicate_report(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Keys occurring more than once, with their multiplicity
    (``print_duplicate_movie_ids``, ``02_etl.py:233-244``). Map-side
    partial count then one shuffle; post-agg filter is evaluated after
    the final HashAggregate."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


# ---------------------------------------------------------------------------
# Near-duplicate: n-gram Jaccard (exact similarity, bucket-join candidates)
# ---------------------------------------------------------------------------


def _shingle_sets(
    docs: DataFrame, id_col: str, text_col: str, n: int, *, family: HashFamily = XXH
) -> DataFrame:
    """(id, sh: distinct hashed shingle array, n_sh) per document.

    Shingles are hashed to int64 immediately (``family.value``): every
    downstream set operation (prefix explode+join, ``array_intersect``
    verify) then runs on fixed-width longs instead of ~n-token strings —
    identical Jaccard values (a 64-bit collision inside one document's
    ~10³ shingles has probability ~1e-13) at a fraction of the shuffle
    bytes and comparison cost."""
    return (
        ensure_min_partitions(docs.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select(
            "id",
            F.array_sort(
                F.array_distinct(
                    # lambda wrapper: F.transform inspects the callable's
                    # signature and rejects xxhash64's *cols form
                    F.transform(shingles(text_col, n), lambda s: family.value(s))
                )
            ).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
        .filter(F.col("n_sh") > 0)
    )


def _verify_pairs(candidates: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard on candidate (a_id, b_id) pairs via set intersection
    of the full shingle arrays — cost proportional to candidates only."""
    a = sh.select(F.col("id").alias("a_id"), F.col("sh").alias("a_sh"), F.col("n_sh").alias("a_n"))
    b = sh.select(F.col("id").alias("b_id"), F.col("sh").alias("b_sh"), F.col("n_sh").alias("b_n"))
    return (
        candidates.join(a, "a_id")
        .join(b, "b_id")
        .withColumn("n_shared", F.size(F.array_intersect("a_sh", "b_sh")))
        .withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("a_n") + F.col("b_n") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    sh: DataFrame | None = None,
) -> DataFrame:
    """All document pairs with exact n-gram-shingle Jaccard ≥ threshold.

    ``sh`` optionally supplies a pre-built shingle-set relation
    (id, sh, n_sh) — e.g. the session-shared cached build in
    ``plans.doc_pairs`` — so the tokenize+hash pass over the corpus is
    not re-derived per call; semantics are identical.

    Scalable exact algorithm (AllPairs/PPJoin-style prefix filtering,
    public literature):

    1. order every document's shingles by ascending global frequency
       (rare first);
    2. a pair with Jaccard ≥ t must share a shingle within each side's
       first ``n_sh - ceil(t·n_sh) + 1`` shingles under any common total
       order — so the candidate join only explodes those *prefixes*,
       which removes the hot-shingle quadratic blowup (stop words /
       boilerplate shingles sit at the end of the order and never join);
    3. pairs also obey the length filter ``t·|A| ≤ |B|``;
    4. candidates are verified exactly via set intersection.

    Exact same output as a naive all-shared-shingles join (no false
    negatives — guaranteed by the prefix bound), at a fraction of the
    shuffle. Output: (a_id, b_id, jaccard) with a_id < b_id.
    """
    # the shingle-set relation is consumed four times (freq, prefix,
    # verify×2); persist so the tokenize+shingle expression chain runs
    # once instead of once per consumer
    sh = sh if sh is not None else _shingle_sets(docs, id_col, text_col, n).persist()
    exploded = sh.select("id", "n_sh", F.explode("sh").alias("shingle"))
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # prefix length: k = n_sh - ceil(t * n_sh) + 1
    prefix = (
        exploded.join(freq, "shingle")
        .groupBy("id", "n_sh")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("ordered"))
        .withColumn(
            "k", (F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1).cast("int")
        )
        .select(
            "id",
            "n_sh",
            F.posexplode(
                F.slice(F.transform("ordered", lambda s: s["shingle"]), 1, F.col("k"))
            ).alias("pos", "shingle"),
        )
    ).persist()  # consumed by both sides of the candidate self-join
    a = prefix.alias("a")
    b = prefix.alias("b")
    # positional filter (PPJoin): a match at 0-based prefix positions
    # (i, j) bounds the overlap by min(|A|-i, |B|-j); Jaccard ≥ t needs
    # overlap ≥ t/(1+t)·(|A|+|B|). The earliest match per pair gives the
    # loosest bound, so filtering per matched row then distinct-ing
    # prunes only pairs whose BEST bound fails — no false negatives.
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.n_sh") + F.col("b.n_sh"))
    )
    candidates = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: t·max(|A|,|B|) ≤ min(|A|,|B|) is implied by
            # t·|A| ≤ |B| and t·|B| ≤ |A|
            & (F.lit(threshold) * F.col("a.n_sh") <= F.col("b.n_sh"))
            & (F.lit(threshold) * F.col("b.n_sh") <= F.col("a.n_sh"))
            & (
                F.least(
                    F.col("a.n_sh") - F.col("a.pos"), F.col("b.n_sh") - F.col("b.pos")
                )
                >= min_overlap
            ),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
    )
    # candidate pairs arrive once per shared prefix position (a few ×
    # duplication); verifying the duplicates costs a handful of extra
    # codegen'd array_intersects against broadcast shingle sets, while
    # distinct-ing BEFORE verify costs a full shuffle of the candidate
    # relation. Dedup after the threshold filter instead, where the
    # relation has collapsed to the (tiny) true-pair set.
    return _verify_pairs(candidates, sh, threshold).distinct()


def containment_pairs(
    docs: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    sh: DataFrame | None = None,
) -> DataFrame:
    """All document pairs (``a_id < b_id``) whose shingle-set overlap
    satisfies ``|A∩B| ≥ threshold·min(|A|,|B|)`` — i.e. asymmetric
    containment ≥ threshold in at least one direction, the
    subset-duplicate criterion Jaccard misses (a chunk quoted inside a
    longer doc scores low Jaccard but high containment).

    Candidate discipline — prefix + positional filtering, the
    AllPairs/PPJoin family (public literature) adapted to the
    containment predicate:

    1. order every document's shingles rare-first (ascending global
       df, ties by hash) — one common total order across the corpus;
    2. per unordered pair, the side with the smaller ``(n_sh, id)`` is
       the MIN side; "containment ≥ t in either direction" is exactly
       ``overlap ≥ t·n_min``, so the prefix bound applies to the min
       side: a qualifying pair must share a shingle within the min
       side's first ``k = n_min − ceil(t·n_min) + 1`` shingles (were
       all k missed, overlap ≤ n_min − k < t·n_min);
    3. the candidate join is prefix(min side) ⋈ full postings(other
       side) — never full × full: the hot-shingle quadratic term
       df² becomes (prefix df) × (full df), and boilerplate shingles
       sort to the END of the rare-first order so they almost never
       enter a prefix;
    4. PPJoin positional filter per matched row: a match at 0-based
       ordered positions (i, j) bounds the overlap by
       ``min(n_p − i, n_f − j)``; the EARLIEST match per pair gives
       the loosest bound, so filtering rows (not pairs) keeps every
       true pair — no false negatives;
    5. candidates verify exactly via ``array_intersect`` on the full
       shingle sets — cost proportional to candidates only.

    The threshold is applied as exact integer arithmetic
    (``Fraction(threshold)``), so results are bit-identical to the
    naive all-shared-shingles self-join. ``sh`` optionally supplies a
    pre-built (id, sh, n_sh) relation (e.g. the session-shared cached
    build in ``plans.doc_pairs``); already-checkpointed inputs are not
    re-persisted. Output: (a_id, b_id, n_shared, na, nb).
    """
    from fractions import Fraction

    t = Fraction(threshold).limit_denominator(10**6)
    num, den = t.numerator, t.denominator
    if sh is None:
        sh = _shingle_sets(docs, id_col, text_col, n).persist()
    exploded = sh.select("id", "n_sh", F.explode("sh").alias("shingle"))
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # ceil(t·n) in exact integers: (n·num + den − 1) DIV den
    ordered = (
        exploded.join(freq, "shingle")
        .groupBy("id", "n_sh")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("by_df"))
        .select(
            "id",
            "n_sh",
            F.expr(f"n_sh - (n_sh * {num} + {den - 1}) DIV {den} + 1").cast("int").alias("k"),
            F.transform("by_df", lambda s: s["shingle"]).alias("ordered"),
        )
        .persist()  # consumed by both sides of the candidate join
    )
    p = ordered.select(
        F.col("id").alias("p_id"),
        F.col("n_sh").alias("p_n"),
        F.posexplode(F.slice("ordered", 1, F.col("k"))).alias("p_pos", "p_sh"),
    )
    f = ordered.select(
        F.col("id").alias("f_id"),
        F.col("n_sh").alias("f_n"),
        F.posexplode("ordered").alias("f_pos", "f_sh"),
    )
    min_overlap = F.expr(f"(p_n * {num} + {den - 1}) DIV {den}")
    # pinned shuffle join: both posting sides are corpus-scale, and
    # AQE's flip-to-broadcast sizes on COMPRESSED shuffle bytes — a
    # hash-heavy int64 relation can sneak under the threshold while
    # its deserialized hash build does not fit the driver (the failure
    # gr_bipartite_project hit twice in the round-7 30x sweep)
    candidates = p.hint("shuffle_hash").join(
        f,
        (F.col("p_sh") == F.col("f_sh"))
        # exactly one designated prefix side per unordered pair
        & (
            (F.col("p_n") < F.col("f_n"))
            | ((F.col("p_n") == F.col("f_n")) & (F.col("p_id") < F.col("f_id")))
        )
        & (
            F.least(F.col("p_n") - F.col("p_pos"), F.col("f_n") - F.col("f_pos"))
            >= min_overlap
        ),
    ).select(
        F.least("p_id", "f_id").alias("a_id"),
        F.greatest("p_id", "f_id").alias("b_id"),
    )
    a = sh.select(F.col("id").alias("a_id"), F.col("sh").alias("a_sh"), F.col("n_sh").alias("na"))
    b = sh.select(F.col("id").alias("b_id"), F.col("sh").alias("b_sh"), F.col("n_sh").alias("nb"))
    # verify first, distinct after the filter collapses the relation
    # (same ordering rationale as ngram_jaccard_pairs)
    return (
        candidates.join(a, "a_id")
        .join(b, "b_id")
        .withColumn("n_shared", F.size(F.array_intersect("a_sh", "b_sh")).cast("bigint"))
        .filter(F.col("n_shared") * den >= F.least("na", "nb") * num)
        .select("a_id", "b_id", "n_shared", "na", "nb")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Near-duplicate: MinHash + LSH banding
# ---------------------------------------------------------------------------


def _minhash_banded(
    sh: DataFrame, num_hashes: int, bands: int, *, family: HashFamily = XXH
) -> DataFrame:
    """(id, band, bucket) LSH index rows from a shingle-set relation.
    This relation IS the thing a production pipeline persists as its
    near-dup index.

    Signatures: slot ``i`` is ``array_min(transform(sh, h ->
    family.slot(i, h)))``, evaluated per document inside one projection
    — **zero shuffles**. The naive alternative (explode shingles ×
    slots, then a (doc, slot)-keyed min-aggregate) pushes
    |shingles|·num_hashes rows through an exchange; this form does the
    same work with no exchange at all. Deterministic across
    runs/executors (no Python in the hot path; whole-stage codegen
    applies). Each band's signature slice then hashes to one bucket id
    via ``family.band``."""
    rows_per_band = num_hashes // bands
    sigs = sh.select(
        "id",
        F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda seed: F.array_min(
                F.transform(F.col("sh"), lambda s: family.slot(seed, s))
            ),
        ).alias("signature"),
    )
    return sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.array(*[F.lit(b) for b in range(bands)]),
                lambda b: family.band(
                    F.slice("signature", b * rows_per_band + 1, rows_per_band), b
                ),
            )
        ).alias("band", "bucket"),
    )


def _assert_banded_consistent(
    banded: DataFrame,
    bands: int,
    what: str,
    *,
    sh: DataFrame | None = None,
    num_hashes: int | None = None,
    family: HashFamily = XXH,
) -> None:
    """Debug-path guard for the supplied-index INVARIANT documented on
    :func:`minhash_lsh_pairs` (VERDICT-r8 stretch ask): a mismatched
    pre-built index silently degrades recall, so fail LOUDLY instead
    when the check is affordable.

    Always: shape check (columns id/band/bucket) — free. Under
    ``SPARK_GRAFT_DEBUG_INVARIANTS=1`` (tests, pre-flight runs — NOT
    the production hot path, this triggers a job over the index):
    (a) band ids must be exactly ``0..bands-1`` with all ``bands``
    present; (b) when the caller's shingle relation and ``num_hashes``
    are supplied, the buckets of a tiny id sample are RECOMPUTED with
    this call's parameters and ``family`` and anti-joined against the
    index — a ``num_hashes`` mismatch (same band count, different
    per-band hashes), stale shingle sets, or a foreign hash family all
    produce differing buckets and are caught, not just band-count drift
    (ADVICE-r9: the band-count check alone could not justify the
    'different banding parameters' claim)."""
    import os

    missing = {"id", "band", "bucket"} - set(banded.columns)
    if missing:
        raise ValueError(
            f"supplied {what} index lacks column(s) {sorted(missing)} — "
            "build it with _minhash_banded over the same shingle sets"
        )
    if os.environ.get("SPARK_GRAFT_DEBUG_INVARIANTS") == "1":
        row = banded.agg(
            F.max("band").alias("mx"), F.count_distinct("band").alias("nb")
        ).collect()[0]
        if row["mx"] is not None and (row["mx"] != bands - 1 or row["nb"] != bands):
            raise ValueError(
                f"supplied {what} index has {row['nb']} distinct bands "
                f"(max band id {row['mx']}) but this call expects exactly "
                f"{bands} bands 0..{bands - 1} — it was built with different "
                "banding parameters and would silently lose recall"
            )
        if sh is not None and num_hashes is not None:
            # banding is per-document row-local, so recomputing ANY id
            # subset must reproduce rows present verbatim in the index
            # (for the incremental caller's union index, the batch
            # shingles are a valid subset witness)
            expect = _minhash_banded(
                sh.limit(4), num_hashes, bands, family=family
            ).select("id", "band", "bucket")
            drift = expect.join(
                banded.select("id", "band", "bucket"),
                on=["id", "band", "bucket"],
                how="left_anti",
            ).count()
            if drift:
                raise ValueError(
                    f"supplied {what} index disagrees with this call's "
                    f"hash parameters on {drift} recomputed sample row(s) "
                    f"(num_hashes={num_hashes}, bands={bands}) — it was "
                    "built with different banding parameters and would "
                    "silently lose recall"
                )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    sh: DataFrame | None = None,
    banded: DataFrame | None = None,
    *,
    family: HashFamily = XXH,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding: signature → ``bands``
    bands of ``num_hashes/bands`` rows each → bucket-join on (band,
    band-hash) → candidate pairs → verified with exact n-gram Jaccard.

    This is the 100 TB path: candidates come from equality joins on band
    buckets (shuffle on a well-distributed hash), and only candidates pay
    the exact-verification cost. Output matches ``ngram_jaccard_pairs``
    restricted to LSH-recalled pairs: (a_id, b_id, jaccard).
    ``sh`` / ``banded`` optionally supply pre-built shingle-set /
    (id, band, bucket) index relations (e.g. the session-shared
    checkpointed builds in ``plans.doc_pairs``); supplied relations are
    not re-persisted. With ``family=PORTABLE`` every hash value is
    reproducible in DuckDB, so the oracle checks which pairs collide,
    not just how many — same plan, provable bits.

    INVARIANT (caller's responsibility — not cheaply checkable in-plan):
    a supplied ``banded`` must have been built by ``_minhash_banded``
    from the SAME shingle sets as ``sh`` with the SAME ``num_hashes``,
    ``bands`` and ``family``. A mismatched index does not error — exact
    verification still passes every surviving pair — it silently
    degrades RECALL (wrong buckets → missed candidates). The wiring
    used by the registry (the 64×16 checkpointed index in
    ``plans.doc_pairs``) is equivalence-asserted in
    ``tests/test_dedup.py``; validate any new caller the same way.
    """
    # one persisted shingle-set relation feeds BOTH the signatures and
    # the exact verification — the corpus is tokenized exactly once
    if sh is None:
        sh = _shingle_sets(docs, id_col, text_col, n, family=family).persist()
    if banded is not None:
        _assert_banded_consistent(
            banded, bands, "banded", sh=sh, num_hashes=num_hashes, family=family
        )
    else:
        banded = _minhash_banded(sh, num_hashes, bands, family=family).persist()
    # both sides of the self-join read this — hash the corpus once
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )
    # exact verification on candidates ONLY — the whole point of LSH is
    # that the expensive comparison never touches non-colliding pairs
    return _verify_pairs(candidates, sh, threshold)


def incremental_minhash_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    sh_c: DataFrame | None = None,
    sh_b: DataFrame | None = None,
    banded_b: DataFrame | None = None,
    banded_all: DataFrame | None = None,
    *,
    family: HashFamily = XXH,
) -> DataFrame:
    """Near-dup pairs that INVOLVE the arriving batch: batch×corpus and
    batch×batch, never corpus×corpus — the shape that keeps continuous
    dedup affordable when the indexed corpus is 100 TB and the batch is
    a day's crawl.

    The candidate join is ``batch_buckets ⨝ (corpus ∪ batch)_buckets``
    on (band, bucket): its cost scales with the batch's bucket rows (a
    well-distributed shuffle key), not with the corpus pair count. In
    production the corpus side of the join and the corpus shingle sets
    used for exact verification are precomputed tables
    (``_minhash_banded`` output is exactly that index relation); here
    they are derived in-plan. Because every hash family is
    deterministic, the result equals ``minhash_lsh_pairs`` on ``corpus ∪
    batch`` restricted to pairs touching the batch — asserted exactly in
    tests, no recall haircut.

    Output: (a_id, b_id, jaccard) with a_id < b_id, exact Jaccard ≥
    threshold.

    INVARIANT (caller's responsibility): supplied ``banded_b`` /
    ``banded_all`` must come from ``_minhash_banded`` over the same
    shingle sets as ``sh_b`` / ``sh_c ∪ sh_b`` with this call's
    ``num_hashes``, ``bands`` and ``family``. A mismatched index
    silently degrades recall (verification still exact) — see
    ``minhash_lsh_pairs``; the registry's 64×16 wiring is
    equivalence-asserted in tests."""
    # both shingle relations feed banding AND exact verification —
    # persist so each side is tokenized once (in production the corpus
    # side is a precomputed table and never recomputed at all)
    if sh_c is None:
        sh_c = _shingle_sets(corpus, id_col, text_col, n, family=family).persist()
    if sh_b is None:
        sh_b = _shingle_sets(batch, id_col, text_col, n, family=family).persist()
    # banded_b / banded_all optionally supply pre-built (id, band,
    # bucket) index relations (banding is per-document row-local, so
    # slicing a full-corpus index by id is value-identical to banding
    # the slice)
    if banded_b is not None:
        _assert_banded_consistent(
            banded_b, bands, "banded_b", sh=sh_b, num_hashes=num_hashes, family=family
        )
    else:
        banded_b = _minhash_banded(sh_b, num_hashes, bands, family=family).persist()
    if banded_all is not None:
        # the batch shingles are a subset of the union index's inputs —
        # a valid recompute witness for the sample check
        _assert_banded_consistent(
            banded_all, bands, "banded_all", sh=sh_b, num_hashes=num_hashes, family=family
        )
    all_banded = (
        banded_all
        if banded_all is not None
        else _minhash_banded(sh_c, num_hashes, bands, family=family).unionByName(banded_b)
    )
    a = banded_b.alias("a")
    b = all_banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") != F.col("b.id")),
        )
        # batch-batch collisions arrive in both orientations; normalize
        # then collapse so each pair verifies once
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("a_id"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("b_id"),
        )
        .distinct()
    )
    return _verify_pairs(candidates, sh_c.unionByName(sh_b), threshold)


# ---------------------------------------------------------------------------
# Near-duplicate: SimHash (hamming-distance buckets)
# ---------------------------------------------------------------------------


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    family: HashFamily = XXH,
) -> DataFrame:
    """``family.simhash_bits``-bit SimHash per document from token hashes
    (``family.value``).

    For each bit position, sum +1/-1 votes of every token's hash bit and
    take the sign. Expressed as: explode tokens → token hash → per-(doc,
    bit) vote aggregate → bit-pack. All JVM-side built-ins.
    """
    toks = (
        ensure_min_partitions(docs.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    bit_positions = F.array(*[F.lit(i) for i in range(family.simhash_bits)])
    votes = (
        toks.withColumn("h", family.value("tok"))
        .select("id", "h", F.explode(bit_positions).alias("bit"))
        # column-valued shift counts need the SQL form (the pyspark
        # shiftright/shiftleft wrappers only take literal counts)
        .withColumn(
            "vote",
            F.when(F.expr("shiftright(h, bit) & 1") == 1, F.lit(1)).otherwise(F.lit(-1)),
        )
        .groupBy("id", "bit")
        .agg(F.sum("vote").alias("v"))
    )
    return (
        votes.withColumn(
            "bitval",
            F.when(F.col("v") > 0, F.expr("shiftleft(cast(1 as bigint), bit)")).otherwise(
                F.lit(0).cast("long")
            ),
        )
        .groupBy("id")
        .agg(F.sum("bitval").alias("simhash"))
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
    *,
    family: HashFamily = XXH,
) -> DataFrame:
    """Pairs with SimHash hamming distance ≤ ``max_hamming``.

    Candidate generation by the pigeonhole trick: split the
    ``family.simhash_bits``-bit hash into ``chunks`` chunks; any pair
    within distance < chunks must agree on ≥1 chunk → equality-join per
    chunk, then exact hamming verify via ``bit_count(xor)``. Equality
    joins only — no cross join.
    """
    hashed = simhash(docs, id_col, text_col, family=family)
    chunk_bits = family.simhash_bits // chunks
    mask = (1 << chunk_bits) - 1
    chunked = hashed.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", i * chunk_bits).bitwiseAND(F.lit(mask))
                    for i in range(chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    a = chunked.alias("a")
    b = chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_dedup(
    batch: DataFrame,
    seen: DataFrame,
    key_cols: Sequence[str],
    keep_min_of: str,
) -> DataFrame:
    """Cross-run exact dedup: rows of ``batch`` whose ``key_cols`` have
    never been ingested (are absent from ``seen``), deduplicated within
    the batch itself (deterministic min-``keep_min_of`` representative).

    This is the reference's rerun-safe insert-if-absent
    (``02_etl.py:123-128``) lifted to content keys and a persistent
    corpus: each ingest round deduplicates the new batch internally,
    anti-joins against the already-seen key set, and appends both the
    rows and their keys. At 100 TB the ``seen`` side is a narrow
    key-only table (e.g. fingerprints), the anti-join shuffles on the
    key hash, and AQE picks broadcast when a small batch meets a
    pre-partitioned corpus; when the seen set outgrows broadcast,
    ``operators/bloom.bloom_anti_join`` is the drop-in that routes only
    the maybe-seen sliver through the shuffle.
    """
    fresh = dedup_exact(batch, key_cols, keep_min_of)
    return fresh.join(seen.select(*key_cols), list(key_cols), "left_anti")


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster near-duplicate *pairs* into duplicate *groups*: the step
    LSH/SimHash/Jaccard stop short of — dedup at corpus scale keeps one
    representative per connected component of the similarity graph, not
    per pair. Returns ``(id, component)`` with ``component`` = the
    minimum id in the group (deterministic canonical representative,
    the same convention as ``dedup_exact``'s min-representative).

    Algorithm: min-label propagation — every vertex repeatedly takes
    the minimum label among itself and its neighbors until a fixpoint.
    Each round is one join + one groupBy (two key shuffles); rounds
    needed = graph diameter, and near-dup graphs are overwhelmingly
    tiny star-shaped clusters, so 2–4 rounds dominate in practice.
    ``localCheckpoint`` truncates the plan lineage each round —
    without it the iterated plan doubles per round and the driver
    chokes on optimization long before 100 TB of data is the problem.
    The convergence test (count of changed labels) is a cheap
    aggregate, not a collect of labels.

    This is the DataFrame rendering of the map-reduce CC algorithms
    (Kiveris et al. "Connected Components in MapReduce and Beyond");
    for graphs with continent-sized components, switch to the
    large-star/small-star variant — same join primitives, fewer rounds.
    """
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    )
    # materialize the edge list once: `pairs` is typically an expensive
    # similarity computation, and without this every propagation round
    # would re-execute it from scratch
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    "component", F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (F.col("component") != F.least("component", F.coalesce("nbr_min", F.col("component"))))
                .cast("int")
                .alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.agg(F.sum("changed")).first()[0] or 0
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    return labels
