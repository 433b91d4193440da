"""Fuzzy-dedup operators — MinHash+LSH and SimHash, pure DataFrame ops.

The 100 TB path for near-dup detection (north-star, BASELINE.json):
exact all-pairs Jaccard (plans.text_queries.ngram_jaccard_pairs) is the
verification oracle; these sketches bound the candidate set so the
quadratic step only runs inside LSH buckets.

Everything is deterministic: shingles → ``xxhash64`` → k universal-hash
permutations ``(a_i·h + b_i) mod p`` (p = 2^31−1, a/b from a fixed
LCG) → per-doc min per permutation. Banding: signature split into
``bands`` chunks; docs sharing any chunk hash are candidates. All
JVM-side column expressions; the only shuffles are the doc-level
groupBy and the band-bucket self-join — no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T
from pyspark.sql import functions as F

_P = (1 << 31) - 1          # Mersenne prime modulus


def _materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut the lineage so a DataFrame consumed by both sides of a
    self-join (and again by a verify join-back) is computed ONCE.

    Without this, AQE's broadcast conversion of the band/quarter
    self-join defeats ReuseExchange and the whole upstream pipeline —
    including the Arrow shingling UDF — re-executes per consumer
    (measured 4× ArrowEvalPython in the candidate plan, ~5s of the
    ~6s candidate step at sf0.1). ``localCheckpoint(eager=True)``
    materializes to executor-local blocks immediately: with a LAZY
    checkpoint the concurrent AQE subplans of the downstream join race
    to be "first use" and each recomputes the upstream pipeline before
    the blocks land (measured 2.3× the whole minhash_near_dup query:
    5.6s lazy vs 2.4s eager at sf0.1). On a cluster the same role is
    played by persisting the signature table (it is tiny: k longs per
    doc, independent of document size), which is also the natural
    incremental artifact at 100 TB — signatures are computed once per
    new document, not per query. Routed through
    ``_lineage.cut_lineage`` so a cluster with ``spark.checkpoint.dir``
    set gets reliable checkpoints (executor-loss survival) from the
    same call sites. ``eager=False`` fuses the materialization into
    the caller's NEXT action — legal only when that action provably
    computes every partition before any other consumer exists (see
    _lineage.cut_lineage); the banded probe's bucket collects are
    exactly that shape."""
    from ._lineage import cut_lineage
    return cut_lineage(df, eager=eager)


def _perm_coeffs(num_perm: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs from a tiny LCG — stable across runs
    and executors (no RNG state on the cluster)."""
    coeffs, x = [], seed
    for _ in range(num_perm):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = 1 + x % (_P - 1)
        x = (1103515245 * x + 12345) % (1 << 31)
        b = x % _P
        coeffs.append((a, b))
    return coeffs


def minhash_signatures(shingled: DataFrame, id_col: str = "doc_id",
                       shingles_col: str = "s",
                       num_perm: int = 64) -> DataFrame:
    """(id, shingle array) → (id, sig array<long> of length num_perm).

    One explode + one groupBy(id) with ``num_perm`` min-aggregates —
    partial aggregation makes the shuffle carry only k longs per doc
    regardless of document size.
    """
    h = F.pmod(F.xxhash64(F.col("shingle")), F.lit(_P))
    ex = shingled.select(id_col, F.explode(shingles_col).alias("shingle")) \
                 .select(id_col, h.alias("h"))
    mins = [F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_P)).alias(f"m{i}")
            for i, (a, b) in enumerate(_perm_coeffs(num_perm))]
    agg = ex.groupBy(id_col).agg(*mins)
    return agg.select(id_col,
                      F.array(*[F.col(f"m{i}") for i in range(num_perm)])
                      .alias("sig"))


def _band_explode(bands: int):
    """(band_idx, band_hash) posexplode expression over a ``sig``
    column — THE banding definition, shared by the batch self-join and
    the incremental probe so the persisted signature table can never
    drift out of band-compatibility with fresh queries. The band hash
    is xxhash64 over the band's slice of the signature."""
    sig_len = F.size("sig")
    r = F.floor(sig_len / bands)
    return F.posexplode(
        F.transform(F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.xxhash64(
                        F.concat_ws(",", F.slice(F.col("sig"),
                                                 b * r + 1, r)))))


class BandKeys(list):
    """Sorted band keys (a plain ``list[int]``) tagged with the band
    count they were collected at, so a probe can refuse keys banded
    differently from its table."""

    def __init__(self, keys, bands: int):
        super().__init__(keys)
        self.bands = bands


def collect_band_keys(sigs: DataFrame, bands: int,
                      id_col: str = "doc_id") -> BandKeys:
    """Distinct ``xxhash64(band_idx, band_hash)`` values of a batch's
    band relation, collected to the driver — the band-key fingerprints
    from which the banded probe derives its touched-bucket list for
    ANY ``n_buckets`` (bucket = pmod(key, n_buckets); Python's ``%``
    IS pmod for a positive modulus, so the driver-side derivation is
    value-identical to the probe's own Spark-side collect). Bounded:
    ≤ |batch|·bands longs.

    Collect ONCE per (batch, bands) and pass the list to
    :func:`incremental_minhash_candidates_banded` via
    ``new_band_keys`` — a caller probing one batch repeatedly (the
    maintenance/rebucket/admission-cap verdicts probe 2-3 times,
    including across geometry migrations, which change ``n_buckets``
    but never the band keys) then skips the per-probe bucket-collect
    job (r13 optimization, guide §5 driver round-trips). MUST be
    computed at the probed table's meta ``bands`` and over the exact
    batch signatures the probe receives — the same agreement contract
    as ``new_sigs``/``num_perm`` (a mismatch changes the candidate
    set, so the probe raises on keys tagged with another ``bands``);
    pass ``sigs`` LAZY-cut and this collect doubles as its
    materializing action."""
    rows = (sigs.select(
        id_col, _band_explode(bands).alias("band_idx", "band_hash"))
        .select(F.xxhash64("band_idx", "band_hash").alias("k"))
        .distinct().collect())
    return BandKeys(sorted(r["k"] for r in rows), bands)


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        bands: int = 16,
                        bucket_cap: int | None = None,
                        banded: DataFrame | None = None) -> DataFrame:
    """Band the signatures and self-join the buckets → distinct
    candidate pairs (id_a < id_b).

    The band hash is ``xxhash64`` over the band's slice of the
    signature; the join key is (band index, band hash) so only docs
    agreeing on a full band collide. AQE skew-split handles moderate
    bucket skew, but it only re-balances the JOIN WORK — a bucket of
    B near-identical docs (boilerplate at 100 TB: a 100k-doc
    template cluster) still EMITS B²/2 output pairs from one bucket,
    an output-size pathology no scheduler can fix.

    ``bucket_cap`` bounds it (r8 verdict ask #2): buckets with more
    than ``bucket_cap`` members are collapsed to a STAR — B−1 edges
    from the bucket's min-id anchor — instead of all-pairs emission.
    A star spans exactly the members a clique spans, so connected
    components over the capped pairs equal components over the
    uncapped pairs (the dedup-cluster answer is unchanged — pinned
    by the lsh_bucket_cap_clusters verdict query and
    tests/test_dedup.py), while emission drops from O(B²) to O(B).
    Pairs from buckets at or under the cap are byte-identical to the
    uncapped output. Star edges are CLUSTER edges: a per-pair
    Jaccard-estimate filter downstream would see only anchor-member
    pairs from over-cap buckets, so use the capped mode to feed
    connected components (dedup clustering), the uncapped mode when
    every pairwise estimate matters.

    ``banded``: optional PRE-COMPUTED band relation — a materialized
    (``id_col``, band_idx, band_hash) frame exactly as this function
    derives from ``sigs`` at the same ``bands``. The banding is a
    deterministic per-row map of the signatures (never of
    ``bucket_cap``), so a caller running BOTH modes over one
    signature set — the lsh_bucket_cap_clusters verdict compares
    capped vs uncapped — shares one explode + checkpoint instead of
    paying it per mode (the ``new_sigs``/``sigs`` sharing pattern;
    results bit-identical).
    """
    if banded is not None:
        # cheap driver-side contract check (ADVICE r12 #1): the
        # pre-computed relation must carry exactly the columns this
        # function would have derived; a frame built at different
        # bands is NOT detectable from schema — that agreement stays
        # the caller's obligation (documented above)
        missing = {id_col, "band_idx", "band_hash"} - set(banded.columns)
        if missing:
            raise ValueError(
                f"banded= relation is missing columns {sorted(missing)}")
    if banded is None:
        # build (id, band_idx, band_hash) rows; materialize once —
        # both self-join sides read the same blocks instead of
        # re-running the explode (+ everything upstream of ``sigs``
        # that isn't already cut). The join itself is a plain
        # equi-join on (band_idx, band_hash) — AQE picks broadcast at
        # small scale and a shuffle join with skew-split at 100 TB,
        # where a boilerplate mega-bucket would otherwise straggle.
        banded = _materialize(sigs.select(
            id_col, _band_explode(bands).alias("band_idx", "band_hash")))
    if bucket_cap is not None:
        # per-bucket size + min-id anchor: one partial-agg shuffle on
        # the same (band_idx, band_hash) key the self-join uses
        stats = (banded.groupBy("band_idx", "band_hash")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.min(id_col).alias("anchor")))
        # materialized: three consumers (both self-join sides + the
        # star branch) would otherwise re-run the aggregate shuffle
        # and join per consumer (AQE defeats ReuseExchange here — see
        # _materialize)
        tagged = _materialize(banded.join(stats,
                                          ["band_idx", "band_hash"]))
        small = tagged.filter(F.col("n") <= bucket_cap) \
                      .select(id_col, "band_idx", "band_hash")
        # over-cap buckets: star edges (anchor, member) — anchor is
        # the bucket min so id_a < id_b holds by construction
        star = (tagged.filter((F.col("n") > bucket_cap)
                              & (F.col(id_col) != F.col("anchor")))
                .select(F.col("anchor").alias("id_a"),
                        F.col(id_col).alias("id_b")))
        a, b = small.alias("a"), small.alias("b")
        allpairs = (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                           & (F.col("a.band_hash") == F.col("b.band_hash"))
                           & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
                    .select(F.col(f"a.{id_col}").alias("id_a"),
                            F.col(f"b.{id_col}").alias("id_b")))
        return allpairs.unionAll(star).distinct()
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_hash") == F.col("b.band_hash"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())


def minhash_near_dups(shingled: DataFrame, id_col: str = "doc_id",
                      shingles_col: str = "s", num_perm: int = 64,
                      bands: int = 16, threshold: float = 0.5,
                      sigs: DataFrame | None = None) -> DataFrame:
    """LSH candidates + signature-estimated Jaccard ≥ threshold.

    Estimated Jaccard = fraction of agreeing signature components
    (unbiased MinHash estimator). The exact-verify variant joins the
    candidates back to shingle sets instead — candidates × exact
    Jaccard is the production shape at scale.

    ``sigs``: optional PRE-COMPUTED materialized signatures (the
    exact relation :func:`minhash_signatures` yields for ``shingled``
    at ``num_perm``) — the same sharing contract as the ``new_sigs``
    probe parameter: signatures are a deterministic per-document
    function, so a caller that already owns them (e.g. a verdict
    comparing a probe against this full rebuild over one corpus)
    skips the explode + ``num_perm``-min aggregate here and the
    result is bit-identical.
    """
    # candidates first (ids only through the bucket shuffle), then join
    # the signatures back for the estimate — measured ~3× faster than
    # carrying the 64-long signatures through the band self-join
    if sigs is None:
        sigs = _materialize(
            minhash_signatures(shingled, id_col, shingles_col, num_perm))
    cand = lsh_candidate_pairs(sigs, id_col, bands)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                     lambda x, y: x == y),
                          lambda v: v)).cast("double") / num_perm
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b", est.alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= threshold))


# ---------------------------------------------------------------------------
# SimHash


def simhash64(tokens_col: Column) -> Column:
    """64-bit SimHash of a token array: per-bit majority vote over the
    tokens' ``xxhash64`` values.

    Token hashing stays JVM-side (``transform`` + ``xxhash64``); the
    64-bit-position majority vote is a vectorized Arrow UDF (one numpy
    broadcast per batch) — bit-position shifts by a *column* amount
    aren't expressible with the built-in shift functions, and 64
    interpreted per-bit folds measured far slower.
    """
    @F.pandas_udf(T.LongType())
    def _pack(hash_arrays: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        weights = (np.uint64(1) << shifts)
        out = np.zeros(len(hash_arrays), dtype=np.uint64)
        for i, hs in enumerate(hash_arrays):
            if hs is None or len(hs) == 0:
                continue
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            bits = (h[:, None] >> shifts) & np.uint64(1)       # (n_tok, 64)
            votes = 2 * bits.astype(np.int64) - 1
            out[i] = ((votes.sum(axis=0) > 0) * weights).sum()
        return pd.Series(out.astype(np.int64))

    return _pack(F.transform(tokens_col, lambda t: F.xxhash64(t)))


def simhash_near_dups(df: DataFrame, id_col: str, tokens_col: Column,
                      max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit quarters, verify by
    popcount. Pigeonhole guarantees a shared exact quarter only for
    pairs within hamming ≤ 3 (four differing bits can hit all four
    quarters), so recall up to the default ``max_hamming=8`` is NOT
    guaranteed: a pair that differs in every quarter is never a
    candidate. Exact recall at distance h needs h+1 blocks.

    ``bit_count(a XOR b)`` is the exact hamming distance; the quarter
    blocking keeps the self-join linear-ish instead of quadratic.
    """
    fp = _materialize(
        df.select(F.col(id_col), simhash64(tokens_col).alias("fp")))
    quarters = (fp.select(
        id_col, "fp",
        F.posexplode(F.array(*[
            F.shiftright("fp", q * 16).bitwiseAND(F.lit(0xFFFF))
            for q in range(4)]))
        .alias("q_idx", "q_val")))
    # one compute for both self-join sides (see _materialize)
    quarters = _materialize(quarters)
    a, b = quarters.alias("a"), quarters.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (a.join(b, (F.col("a.q_idx") == F.col("b.q_idx"))
                   & (F.col("a.q_val") == F.col("b.q_val"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def prefix_filter_candidate_pairs(shingled: DataFrame,
                                  id_col: str = "doc_id",
                                  shingles_col: str = "s", *,
                                  t_num: int, t_den: int) -> DataFrame:
    """PPJoin-style prefix-filter candidate pairs (``id_a < id_b``)
    over distinct shingle sets — PROVABLY COMPLETE for Jaccard ≥
    t_num/t_den (Chaudhuri et al. ICDE'06; Xiao et al. WWW'08): two
    sets with J ≥ t must share a token among their rarest-first
    prefixes of length |s| − ⌈t·|s|⌉ + 1, so indexing only the prefix
    slice loses no qualifying pair; the PPJoin length filter
    (t·max ≤ min) prunes before the distinct. Integer threshold
    arithmetic throughout (no IEEE ceil edge). This is the operator
    core behind ``plans.setsim_queries.prefix_filter_candidates``;
    it also supplies the completeness channel of
    :func:`minhash_near_dups_exact`."""
    from pyspark.sql import Window
    sh = (shingled.select(F.col(id_col).alias("doc_id"),
                          F.col(shingles_col).alias("s"))
          .withColumn("nsh", F.size("s")))
    ex = sh.select("doc_id", "nsh", F.explode("s").alias("shingle"))
    # document frequency as a COUNT window over the shingle key, not
    # groupBy + join-back: identical df values on every posting row,
    # one exchange of the postings instead of exchange + join (the
    # window's required sort is the sort the join would have paid)
    ranked = (ex.withColumn("df", F.count(F.lit(1)).over(
                  Window.partitionBy("shingle")))
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("doc_id")
                  .orderBy("df", "shingle"))))
    alpha = F.floor((F.lit(t_num) * F.col("nsh") + F.lit(t_den - 1))
                    / F.lit(t_den)).cast("long")
    prefix = ranked.filter(
        F.col("rn") <= F.col("nsh") - alpha + F.lit(1))
    prefix = _materialize(prefix.select("doc_id", "nsh", "shingle"))
    a, b = prefix.alias("a"), prefix.alias("b")
    len_ok = ((F.lit(t_den) * F.col("a.nsh")
               >= F.lit(t_num) * F.col("b.nsh"))
              & (F.lit(t_den) * F.col("b.nsh")
                 >= F.lit(t_num) * F.col("a.nsh")))
    return (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")) & len_ok)
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"))
            .distinct())


def minhash_near_dups_exact(shingled: DataFrame, id_col: str = "doc_id",
                            shingles_col: str = "s", num_perm: int = 64,
                            bands: int = 16, threshold: float = 0.5,
                            complete_ratio: tuple[int, int] | None = None,
                            ) -> DataFrame:
    """The production near-dup shape at 100 TB: LSH candidates (cheap,
    high recall) + EXACT Jaccard verification only on candidates.

    The exact step intersects the two shingle arrays with
    ``array_intersect`` — O(candidates), not O(n²); results match the
    all-pairs ``ngram_jaccard_pairs`` query on every surviving pair.

    With ``complete_ratio=(t_num, t_den)`` (which must equal
    ``threshold``), the LSH candidates are unioned with the
    prefix-filter channel (:func:`prefix_filter_candidate_pairs`),
    which is provably complete for J ≥ t — the verified output then
    EQUALS the all-pairs ≥-threshold truth by the prefix-filter
    theorem, not by measured banding recall, making the relation
    SQL-replayable (VERDICT r11 ask #3). Verification still runs
    candidates-only; the union only widens the candidate set by the
    qualifying pairs banding happened to miss."""
    shingled = _materialize(shingled)
    sigs = _materialize(
        minhash_signatures(shingled, id_col, shingles_col, num_perm))
    cand = lsh_candidate_pairs(sigs, id_col, bands)
    if complete_ratio is not None:
        t_num, t_den = complete_ratio
        if abs(t_num / t_den - threshold) > 1e-12:
            raise ValueError(
                f"complete_ratio {t_num}/{t_den} != threshold "
                f"{threshold}; the completeness guarantee would not "
                "cover the verified cut")
        cand = cand.select("id_a", "id_b").unionAll(
            prefix_filter_candidate_pairs(
                shingled, id_col, shingles_col,
                t_num=t_num, t_den=t_den)).distinct()
    sa = shingled.select(F.col(id_col).alias("id_a"),
                         F.col(shingles_col).alias("s_a"))
    sb = shingled.select(F.col(id_col).alias("id_b"),
                         F.col(shingles_col).alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b")).cast("double")
    union = (F.size("s_a") + F.size("s_b")
             - F.size(F.array_intersect("s_a", "s_b")))
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b", (inter / union).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# ---------------------------------------------------------------------------
# Incremental near-dup maintenance — the 100 TB operating mode.
#
# A full-corpus self-join per batch is O(corpus) every time; the
# production shape is a PERSISTED signature table (k longs per doc,
# independent of document size) maintained incrementally: each new
# batch computes signatures for ITS documents only, probes the banded
# signature table for candidates, and appends its own signatures. Work
# per batch is O(batch + collisions), never O(corpus).


def write_signature_table(shingled: DataFrame, path: str,
                          id_col: str = "doc_id",
                          shingles_col: str = "s", num_perm: int = 64,
                          mode: str = "append") -> None:
    """Compute and persist MinHash signatures for a batch of documents.

    The table layout is (id, sig array<long>); banding happens at probe
    time so the band count can be retuned without rebuilding."""
    sigs = minhash_signatures(shingled, id_col, shingles_col, num_perm)
    sigs.write.mode(mode).parquet(path)


def incremental_minhash_candidates(spark, sig_path: str,
                                   new_shingled: DataFrame,
                                   id_col: str = "doc_id",
                                   shingles_col: str = "s",
                                   num_perm: int = 64, bands: int = 16,
                                   threshold: float = 0.5) -> DataFrame:
    """Near-dup candidates of a NEW batch against the persisted corpus.

    (new_id, old_id, est_jaccard) for every banded collision with
    estimated Jaccard >= threshold. The corpus side is read from the
    signature table (never re-shingled, never re-hashed); the new
    side's bands broadcast into the probe, so the corpus scan is the
    only O(corpus) step. This is the UNPARTITIONED mode; the 100 TB
    operating mode is :func:`write_banded_signature_table` +
    :func:`incremental_minhash_candidates_banded`, whose probe
    partition-prunes both scans to the batch's band buckets.
    """
    corpus_sigs = spark.read.parquet(sig_path)
    new_sigs = _materialize(
        minhash_signatures(new_shingled, id_col, shingles_col, num_perm))
    # a probe num_perm differing from the table's would make band
    # hashes UNMATCHABLE (each side slices its own signature width) —
    # the probe would silently return ~nothing. Fail loudly instead;
    # the check reads one corpus row (the table is append-only with a
    # fixed width by the write_signature_table contract).
    first = corpus_sigs.select(F.size("sig").alias("n")).first()
    if first is not None and first["n"] != num_perm:
        raise ValueError(
            f"signature table at {sig_path} has num_perm={first['n']} "
            f"but the probe was called with num_perm={num_perm}; "
            "matching widths are required for band compatibility")

    def banded(sigs: DataFrame, label: str) -> DataFrame:
        return sigs.select(
            F.col(id_col).alias(label),
            F.col("sig").alias(f"sig_{label}"),
            _band_explode(bands).alias("band_idx", "band_hash"))

    probe = (banded(corpus_sigs, "old_id")
             .join(F.broadcast(banded(new_sigs, "new_id")),
                   ["band_idx", "band_hash"])
             .filter(F.col("new_id") != F.col("old_id"))
             .select("new_id", "old_id", "sig_new_id", "sig_old_id")
             .dropDuplicates(["new_id", "old_id"]))
    est = (F.size(F.filter(F.zip_with("sig_new_id", "sig_old_id",
                                      lambda x, y: x == y),
                           lambda v: v)).cast("double") / num_perm)
    return (probe.select("new_id", "old_id", est.alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= threshold))


# ---------------------------------------------------------------------------
# Band-PARTITIONED signature table — the pruned 100 TB operating mode
# (r8 verdict ask #1). The unpartitioned probe above scans the whole
# signature table per batch; here the persisted state is laid out so
# the probe reads only the partitions the batch can possibly collide
# with, the same pattern as the inverted index's token-hash partition
# dirs (operators/inverted_index.py) and the IVF list layout
# (operators/similarity.py):
#
# * ``{path}/bands``  — (doc_id, band_idx, band_hash), partitioned by
#   ``bucket = pmod(xxhash64(band_idx, band_hash), n_buckets)``. The
#   probe touches only the buckets the NEW batch's band hashes fall
#   in: expected fraction read ≈ 1 − exp(−batch·bands / n_buckets),
#   so size n_buckets ≫ batch·bands and the candidate scan is a
#   pruned lookup, not a corpus scan.
# * ``{path}/sigs``   — (doc_id, sig), partitioned by
#   ``doc_bucket = pmod(xxhash64(doc_id), n_buckets)``. Signatures
#   are stored ONCE per doc (not duplicated into every band row —
#   that would multiply signature bytes by ``bands``); the estimate
#   join fetches only the candidate old-ids' buckets, O(collisions)
#   of them.
# * ``{path}/meta.json`` — (num_perm, bands, n_buckets, keyed).
#   The probe derives EVERY geometry parameter from meta, so a
#   probe/table drift (the silent-empty-result failure mode the
#   width check above guards against) is impossible by construction;
#   appends that disagree with meta fail loudly.
#
# ``batch_id`` keying (``keyed=True``): streaming gates append under
# foreachBatch, which is AT-LEAST-ONCE — a retried batch must not
# duplicate its signatures. Keyed writes add a leading ``batch_id``
# partition and use dynamic partition OVERWRITE, so a retry replaces
# exactly its own partitions; probes can exclude the in-flight batch
# (``max_batch_id_exclusive``) at partition level, making the probe's
# view of the corpus identical across retries.


N_SIG_BUCKETS = 64


def _read_sig_meta(path: str) -> dict:
    # plain JSON, not a parquet relation: geometry is DRIVER-side
    # metadata (a catalog property at scale) and a 1-row parquet
    # write/read costs two whole Spark jobs per append/probe
    # (measured 7.6 s for the write alone at sf0.1)
    import json
    with open(path + "/meta.json") as f:
        return json.load(f)


def _has_data_files(path: str) -> bool:
    """Any committed parquet data file under ``path``? meta.json is
    written BEFORE the data commits, so 'table exists' checks on the
    meta alone would crash probes against a table whose first write
    crashed mid-flight or committed zero rows (all-unsignable batch —
    only _SUCCESS markers on disk)."""
    import os
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("_"):
                return True
    return False


def _manifest_file(path: str) -> str:
    return path + "/manifest.json"


def _read_manifest(path: str) -> dict | None:
    """{"bands": {rel_dir: rows}, "sigs": {rel_dir: rows}} or None
    for a pre-manifest table (probes fall back to recursive partition
    listing)."""
    import json
    import os
    p = _manifest_file(path)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


class StaleManifestError(RuntimeError):
    """A writer's manifest replace was based on a snapshot another
    writer has since superseded (epoch CAS failure). Under the POSIX
    flock protocol this cannot fire — the lock serializes writers —
    so it detects the degraded modes: flock unavailable, or an
    out-of-band mutator. The failed writer's DATA is committed
    (parquet landed, dirty marker present), so the repair is a
    manifest rebuild, not a re-run."""


def _manifest_epoch(man: dict | None) -> int:
    return 0 if man is None else int(man.get("epoch", 0))


def _write_manifest(path: str, man: dict,
                    expect_epoch: int | None = None) -> None:
    """Atomic manifest replace. With ``expect_epoch`` the replace is
    a compare-and-swap on the monotonic manifest epoch: the on-disk
    epoch is re-read immediately before the replace and must equal
    the epoch the writer's snapshot was read at, else
    :class:`StaleManifestError` — a lost update becomes a loud error
    instead of a silent last-write-wins clobber. Detection, not
    prevention (re-read→replace is not itself atomic); prevention is
    the flock writer lock, under which the CAS can never fail."""
    import json
    import os
    if expect_epoch is not None:
        if _manifest_epoch(_read_manifest(path)) != expect_epoch:
            raise StaleManifestError(
                f"manifest at {path} moved past epoch {expect_epoch} "
                "under this writer; rebuild the manifest to repair")
        man = dict(man)
        man["epoch"] = expect_epoch + 1
    tmp = _manifest_file(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(man, f, sort_keys=True)
    os.replace(tmp, _manifest_file(path))   # atomic vs readers


def _dirty_file(path: str) -> str:
    return path + "/manifest.dirty"


def _mark_dirty(path: str, intent: dict) -> None:
    """Write-ahead intent marker for the append protocol: lands
    BEFORE the batch's parquet commits, cleared AFTER the manifest
    replace. A writer crash inside that window leaves the marker, so
    the next manifest consumer knows the manifest may miss committed
    dirs and rebuilds from the filesystem instead of trusting it —
    without the marker that committed data would be silently
    invisible to every later probe (the manifest is the probe's SOLE
    dir discovery on manifest-bearing tables). The rebuild repairs
    the MANIFEST; the data state itself is kept probe-safe by the
    sigs-before-bands write ordering (bands ⊆ sigs always holds, so
    a torn commit leaves only unreferenced sidecar rows, never band
    rows whose signatures are missing). For UNKEYED tables the
    rebuild is the ONLY safe manifest repair: re-running the append
    is not idempotent (mode=append duplicates the band/sig rows);
    keyed tables may alternatively re-run the batch (dynamic
    partition overwrite of its own partitions).

    Returns a unique writer token recorded in the marker, so the
    writer's own clear can be OWNER-CHECKED (see :func:`_clear_dirty`)
    — where flock is unavailable, two racing writers share one marker
    file (last mark wins via the atomic replace), and an
    unconditional clear by the first finisher would delete the
    survivor's only crash protection."""
    import json
    import os
    import uuid
    token = uuid.uuid4().hex
    tmp = _dirty_file(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({**intent, "writer_token": token}, f)
    os.replace(tmp, _dirty_file(path))
    return token


def _clear_dirty(path: str, owner_token: str | None = None) -> None:
    """Remove the dirty marker. With ``owner_token`` the clear is
    owner-checked: the marker is deleted only if it still carries
    this writer's token — if another (possibly still LIVE) writer's
    mark replaced ours, it is left alone and that writer clears its
    own marker when it finishes (or a consumer heals if it crashed).
    Unconditional (``None``) clearing is reserved for the
    provably-dead-writer heal (lock acquired under real flock,
    :func:`_resolve_manifest`) and explicit maintenance. Under the
    blocking flock the owner check never fires (writers serialize,
    each clears the marker it wrote) — it exists for the degraded
    no-flock mode."""
    import contextlib
    import json
    import os
    if owner_token is not None:
        try:
            with open(_dirty_file(path)) as f:
                if json.load(f).get("writer_token") != owner_token:
                    return                  # someone else's marker
        except (FileNotFoundError, ValueError):
            return
    with contextlib.suppress(FileNotFoundError):
        os.remove(_dirty_file(path))


def _writer_lockfile(path: str) -> str:
    return path + "/writer.lock"


def _acquire_writer_lock(path: str):
    """Exclusive append lock, held by the writer for the whole
    marker→data→manifest→clear window. Its one job is making the
    dirty marker UNAMBIGUOUS to concurrent readers: flock is released
    by the OS on any process death, so `marker present + lock free`
    MEANS crashed writer, and `marker present + lock held` means an
    append is simply in flight (the on-disk manifest is then the
    consistent pre-batch snapshot — see _resolve_manifest). Blocking
    acquire also serializes two accidental concurrent writers instead
    of letting them interleave appends. POSIX-only (the signature
    table is a local/posix-fs artifact — the manifest is the local
    analog of an Iceberg manifest list; an object-store deployment
    uses a real catalog); returns None where flock is unavailable,
    degrading to the pre-lock behavior."""
    import os
    try:
        import fcntl
    except ImportError:                      # non-POSIX: degrade
        return None
    fd = os.open(_writer_lockfile(path), os.O_CREAT | os.O_RDWR, 0o644)
    fcntl.flock(fd, fcntl.LOCK_EX)
    return fd


def _release_writer_lock(fd) -> None:
    import os
    if fd is None or fd == -1:     # no lock taken / flock unavailable
        return
    import fcntl
    fcntl.flock(fd, fcntl.LOCK_UN)
    os.close(fd)


def _try_writer_lock(path: str):
    """Non-blocking exclusive acquire of the append lock: an fd when
    no writer is running (caller must _release_writer_lock), None
    when a writer currently holds it — or when flock is unavailable,
    where the caller degrades to the lock-free behavior by treating
    the acquire as... successful-but-unprotected (sentinel -1)."""
    import os
    try:
        import fcntl
    except ImportError:
        return -1
    fd = os.open(_writer_lockfile(path), os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        return None
    return fd


def _resolve_manifest(path: str) -> dict | None:
    """Crash-aware manifest read — what every manifest CONSUMER
    (probe, maintenance, rebucket) goes through. A present dirty
    marker is disambiguated against the writer lock:

    * marker + lock HELD ⇒ an append is in flight right now. The
      on-disk manifest is the consistent PRE-batch snapshot (the
      batch is not yet committed from this reader's point of view —
      the gate's at-least-once semantics), so serve it as-is and
      NEVER touch another writer's marker: clearing it here would
      destroy the crash protection if that writer dies before its
      manifest replace, and rebuilding would race its writes.
    * marker + lock ACQUIRABLE ⇒ the writer died between its data
      commit and its manifest replace; the manifest may silently
      miss committed dirs. The heal — rebuild from the filesystem
      (covers the orphaned batch and everything before it) and clear
      the marker — runs WHILE HOLDING the lock, with the marker
      re-checked under it: deciding from a momentary liveness PROBE
      instead would race a writer that starts between the probe and
      the clear, deleting the new writer's marker (the
      check-then-act hole this structure exists to close).

    Two degraded-consumer paths never mutate protocol state (ADVICE
    r11 #1/#2): where flock is unavailable the lock cannot prove a
    marked writer is dead, and on a read-only mount the heal cannot
    write — both serve an IN-MEMORY filesystem rebuild (this reader
    sees every committed dir) while leaving the marker and on-disk
    manifest untouched, so a possibly-live writer's crash protection
    is never destroyed and read-only probes still see committed data.
    Marker-clearing stays reserved for the provably-dead-writer heal
    (lock acquired under real flock) or explicit maintenance
    (:func:`rebuild_signature_manifest`).

    Returns None only for a genuinely pre-manifest table (no
    manifest, no marker), where callers fall back to recursive
    listing or a full rebuild."""
    import os
    if os.path.isfile(_dirty_file(path)):
        try:
            fd = _try_writer_lock(path)
        except OSError:
            # read-only mount: O_CREAT on writer.lock is refused, so
            # neither the heal's write nor the clear could land anyway
            return rebuild_signature_manifest(path, persist=False)
        if fd is None:                   # live append in flight
            return _read_manifest(path)
        if fd == -1:
            # flock unavailable: liveness is undecidable, so rebuild
            # in memory (see committed dirs) but never clear what may
            # be a LIVE writer's marker
            return rebuild_signature_manifest(path, persist=False)
        try:
            if not os.path.isfile(_dirty_file(path)):
                # the append finished (or another reader healed)
                # between our marker sighting and the acquire
                return _read_manifest(path)
            # compute the rebuild ONCE (the leaf-dir walk is the
            # expensive part — ~18 s at 5,120 dirs), then try to
            # persist it; if the protocol files turn out unwritable
            # (data readable, dir not), serve the already-computed
            # manifest instead of repeating the identical walk
            man = rebuild_signature_manifest(path, persist=False)
            try:
                man_p = dict(man)
                man_p["epoch"] = _manifest_epoch(
                    _read_manifest(path)) + 1
                _write_manifest(path, man_p)
                _clear_dirty(path)
                return man_p
            except OSError:
                return man
        finally:
            _release_writer_lock(fd)
    return _read_manifest(path)


def _dir_rows(d: str) -> dict:
    """{"rows", "files"} of one leaf partition dir from parquet
    footers — driver-side metadata reads, no Spark job. File counts
    feed the manifest-driven compaction policy
    (:func:`maintain_signature_table`); row counts feed the growth
    policy and observability."""
    import os
    import pyarrow.parquet as pq
    rows = files = 0
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet") and not f.startswith((".", "_")):
            rows += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            files += 1
    return {"rows": rows, "files": files}


def _man_rows(v) -> int:
    """Manifest value → row count; accepts the pre-r10.5 bare-int
    form so tables written by earlier builds keep working."""
    return v["rows"] if isinstance(v, dict) else int(v)


def _man_files(v) -> int:
    return v.get("files", 1) if isinstance(v, dict) else 1


def rebuild_signature_manifest(path: str, persist: bool = True) -> dict:
    """Full filesystem rebuild of the banded table's dir manifest
    (VERDICT r9 ask #4): rel leaf partition dir → row count for both
    subtables, written atomically to ``{path}/manifest.json``.
    ``persist=False`` computes the same manifest WITHOUT writing it —
    the degraded-consumer path (read-only mount, or no flock to prove
    a marked writer is dead) where this reader needs to see committed
    dirs but must not mutate the table's crash-protocol state.

    The manifest is the probe's DIR DISCOVERY: resolving the touched
    buckets against it replaces the per-probe recursive partition
    listing, whose fixed cost grows with n_buckets (measured 17.9 s
    at 5,120 dirs on local FS — a metadata-catalog concern; the
    manifest is the driver-side catalog stand-in, the local analog of
    an Iceberg manifest list). Appends maintain it incrementally
    (touched dirs only); this rebuild repairs a table written before
    manifests existed or whose writer crashed between the data commit
    and the manifest update. Dir-level (not file-level) on purpose:
    compaction (operators/compaction.py) preserves the partition-dir
    set and per-dir row counts exactly, so maintenance never
    invalidates the manifest."""
    import os

    from . import table_io
    man = {}
    for sub in ("bands", "sigs"):
        root = os.path.realpath(os.path.join(path, sub))
        dirs = {}
        if os.path.isdir(root):
            for d in table_io.leaf_partition_dirs(root):
                dirs[d] = _dir_rows(os.path.join(root, d))
        man[sub] = dirs
    if persist:
        # a rebuild is authoritative (it IS the filesystem), so it
        # advances the epoch unconditionally rather than CAS-checking
        man["epoch"] = _manifest_epoch(_read_manifest(path)) + 1
        _write_manifest(path, man)
    return man


def write_banded_signature_table(shingled: DataFrame, path: str,
                                 id_col: str = "doc_id",
                                 shingles_col: str = "s",
                                 num_perm: int = 64, bands: int = 16,
                                 n_buckets: int = N_SIG_BUCKETS,
                                 batch_id: int | None = None) -> None:
    """Append a batch's MinHash signatures to the band-partitioned
    table at ``path`` (creating it on first write). See the layout
    comment above; ``batch_id`` keys the write for foreachBatch
    retry idempotence (dynamic partition overwrite of the batch's own
    partitions).

    MULTI-WRITER CONTRACT: concurrent appends to one table are
    serialized by the blocking writer flock — both batches land, each
    incremental manifest update reads the other's committed state,
    and the final manifest equals a filesystem rebuild (pinned by
    tests/test_dedup.py::test_concurrent_appends_serialize). Where
    flock is unavailable the manifest replace is still epoch-CAS'd:
    a writer whose snapshot another writer superseded raises
    :class:`StaleManifestError` instead of silently losing the other
    writer's update (its own data IS committed; the repair is
    :func:`rebuild_signature_manifest`). Multi-HOST writers need a
    real catalog — flock does not span NFS/object stores."""
    import json
    import os
    spark = shingled.sparkSession
    keyed = batch_id is not None
    # sig_fp: an 8-byte xxhash64 fingerprint of the FULL signature
    # stored on every band row, so the capped probe's star collapse
    # can admit one anchor per DISTINCT signature inside an over-cap
    # band-hash group (instead of a single min-id anchor that could
    # hide a genuinely different near-dup) without joining the sigs
    # sidecar. New tables always carry it; appends to a pre-fp table
    # stay in the legacy schema so a subtable never mixes parquet
    # schemas.
    got = {"num_perm": num_perm, "bands": bands,
           "n_buckets": n_buckets, "keyed": keyed, "sig_fp": True}
    if os.path.isfile(path + "/meta.json"):
        meta = _read_sig_meta(path)
        if "sig_fp" not in meta:
            got.pop("sig_fp")
        if meta != got:
            raise ValueError(
                f"banded signature table at {path} has geometry {meta} "
                f"but the write was called with {got}; a mismatched "
                "append would make band hashes unmatchable")
    else:
        os.makedirs(path, exist_ok=True)
        tmp = path + "/meta.json.tmp"
        with open(tmp, "w") as f:
            json.dump(got, f)
        os.replace(tmp, path + "/meta.json")   # atomic vs readers

    # signatures computed ONCE for both writes (the sidecar and the
    # band index derive from the same relation)
    sigs = _materialize(
        minhash_signatures(shingled, id_col, shingles_col, num_perm))
    band_cols = [F.col(id_col).alias("doc_id"),
                 _band_explode(bands).alias("band_idx", "band_hash")]
    if got.get("sig_fp", False):
        band_cols.append(F.xxhash64("sig").alias("sig_fp"))
    banded = sigs.select(*band_cols)
    banded = banded.withColumn(
        "bucket", F.pmod(F.xxhash64("band_idx", "band_hash"),
                         F.lit(n_buckets)).cast("int"))
    sidecar = sigs.select(
        F.col(id_col).alias("doc_id"), "sig",
        F.pmod(F.xxhash64(id_col), F.lit(n_buckets)).cast("int")
        .alias("doc_bucket"))

    def _write(df: DataFrame, sub: str, parts: list[str]) -> None:
        # co-locate each partition dir's rows in ONE task before the
        # partitionBy write: without this every task writes a file
        # into every dir it touches (up to tasks x n_buckets tiny
        # files per append — the small-files pathology
        # operators/compaction.py exists to clean up); with it the
        # append lands ~one file per touched dir
        df = df.repartition(F.col(parts[-1]))
        if keyed:
            df = df.withColumn("batch_id",
                               F.lit(batch_id).cast("long"))
            w = (df.write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("batch_id", *parts))
        else:
            w = df.write.mode("append").partitionBy(*parts)
        w.parquet(path + sub)

    # write-ahead dirty marker: any crash from here until the manifest
    # replace below leaves the marker, and the next manifest consumer
    # rebuilds from the filesystem instead of trusting a manifest that
    # may miss committed dirs. A marker already present means a
    # PREVIOUS writer died mid-window — its committed dirs are
    # invisible to the incremental update path, so this append must
    # finish with a full rebuild (which walks the FS after our writes
    # and therefore covers the orphan and this batch together).
    # the append lock brackets the whole marker→data→manifest→
    # clear window (see _acquire_writer_lock): concurrent readers
    # can then tell an in-flight append from a crashed one, and
    # accidental concurrent writers serialize instead of
    # interleaving
    _lock_fd = _acquire_writer_lock(path)
    try:
        stale_marker = os.path.isfile(_dirty_file(path))
        token = _mark_dirty(path, {"batch_id": batch_id,
                                   "keyed": keyed})

        # SIGS FIRST, bands second: the probe's correctness invariant is
        # bands ⊆ sigs (every admitted band row must find its signature
        # in the sidecar join — a band row with no sig silently drops,
        # and on a legacy capped table an orphan could even be the
        # over-cap group's sole min-id anchor, unflagging real near-dups)
        # — so a crash between the two writes must only ever leave the
        # HARMLESS torn state: sig rows no band group references yet
        # (never probed, slightly wider sidecar dirs until the batch is
        # re-run or the table rebuilt). The dirty-marker heal repairs the
        # MANIFEST over whatever committed; this ordering is what makes
        # the torn data state itself safe to serve.
        _write(sidecar, "/sigs", ["doc_bucket"])
        _write(banded, "/bands", ["bucket"])

        # incremental manifest update — touched dirs only. ONE bounded
        # job collects both subtables' touched bucket values (≤
        # batch·bands + batch ints, off the already-materialized sigs);
        # the row recounts are driver-side parquet-footer reads of just
        # those dirs. The update is part of the single-writer append
        # protocol; the dirty marker above makes the
        # data-committed/manifest-stale crash window self-healing (the
        # next consumer rebuilds — for UNKEYED tables that rebuild is the
        # only safe repair, since re-running a mode=append batch
        # duplicates its band/sig rows; keyed tables may also just re-run
        # the batch, whose dynamic partition overwrite is idempotent).
        man = None if stale_marker else _read_manifest(path)
        if man is None:
            # LEGACY pre-manifest table (or crash-orphaned manifest): a
            # targeted update seeded from an empty dict would cover only
            # THIS batch's dirs, and the next probe — now manifest-driven
            # — would silently skip the entire pre-existing corpus. Full
            # rebuild instead: it walks the filesystem AFTER the writes,
            # so old and new dirs are both covered (regression-pinned in
            # tests/test_dedup.py::test_legacy_table_append_rebuilds_
            # manifest).
            rebuild_signature_manifest(path)
            _clear_dirty(path, owner_token=token)
            return
        touched = (banded.select(F.lit("bands").alias("t"),
                                 F.col("bucket").alias("b"))
                   .unionAll(sidecar.select(F.lit("sigs").alias("t"),
                                            F.col("doc_bucket").alias("b")))
                   .distinct().collect())
        pref = f"batch_id={batch_id}/" if keyed else ""
        for r in touched:
            col = "bucket" if r["t"] == "bands" else "doc_bucket"
            rel = f"{pref}{col}={r['b']}"
            d = os.path.join(os.path.realpath(path + "/" + r["t"]), rel)
            if os.path.isdir(d):
                man[r["t"]][rel] = _dir_rows(d)
        # epoch CAS: under the flock this cannot fail (the lock
        # serializes writers); where flock is unavailable it turns a
        # stale writer's would-be lost update into StaleManifestError
        # (data is committed + marker present, so the repair is a
        # manifest rebuild, not a batch re-run). The clear is
        # owner-checked for the same no-flock mode: if the CAS loser's
        # mark replaced ours, the marker is ITS crash protection now
        # and the winner must not delete it
        _write_manifest(path, man, expect_epoch=_manifest_epoch(man))
        _clear_dirty(path, owner_token=token)
    finally:
        _release_writer_lock(_lock_fd)


def incremental_minhash_candidates_banded(
        spark, path: str, new_shingled: DataFrame,
        id_col: str = "doc_id", shingles_col: str = "s",
        threshold: float = 0.5,
        max_batch_id_exclusive: int | None = None,
        materialize: bool = True,
        max_candidates_per_new: int | None = None,
        new_sigs: DataFrame | None = None,
        new_band_keys: BandKeys | None = None) -> DataFrame:
    """Pruned probe of the band-partitioned signature table: near-dup
    candidates (new_id, old_id, est_jaccard) of a NEW batch against
    the persisted corpus, reading ONLY

    * the band buckets the batch's own band hashes fall in (the
      candidate lookup), and
    * the doc buckets of the surviving candidate old-ids (the
      signature fetch for the estimate) —

    both partition-pruned scans; the corpus is never re-shingled,
    re-hashed, or fully read. Geometry (num_perm, bands, n_buckets)
    comes from the table's meta, so probe/table drift cannot happen.
    ``max_batch_id_exclusive`` restricts a keyed table to batches
    strictly before it (partition-level), which makes a foreachBatch
    retry's probe independent of whether the failed attempt already
    appended this batch's own signatures.

    ``materialize=False`` skips the lineage cut on the candidate
    relation so the RETURNED plan shows both pruned parquet scans —
    for plan inspection/tests only (the default cut computes the
    candidates once instead of once per consumer).

    ``max_candidates_per_new`` is the probe-side ADMISSION CAP
    (VERDICT r9 ask #1), the probe's analog of
    :func:`lsh_candidate_pairs`'s ``bucket_cap``: a new batch hitting
    a persisted boilerplate cluster of B docs otherwise emits
    |batch|·B candidates (bounded — never corpus² — but unboundedly
    larger than the batch). With the cap set, (a) a corpus band-hash
    group larger than the cap admits only min-``doc_id`` ANCHORS
    into the probe join — one per DISTINCT stored signature within
    the group (largest signature subgroups first, at most cap of
    them), collapsing the |batch|·B emission of a sig-identical
    boilerplate cluster to |batch| BEFORE any pair exists while
    keeping every genuinely different-sig member visible through its
    own anchor — and
    (b) each new doc RETURNS at most ``max_candidates_per_new``
    pairs, ranked by estimated similarity (``old_id`` tie-break) and
    applied AFTER the ≥-threshold filter, so a genuine near-dup can
    never be evicted by a crowd of low-id sub-threshold band
    collisions. CALLER-FACING CONTRACT for the capped mode: the
    collapse is exact at SIGNATURE granularity — up to 64-bit
    ``sig_fp`` (xxhash64) fingerprint collisions: two genuinely
    different signatures colliding on the fingerprint inside one
    over-cap group would share an anchor (probability ~n²·2⁻⁶⁵ per
    group; the collapse granularity is the fingerprint, not the
    signature bytes). Sig-identical
    cluster members are losslessly represented by their anchor (same
    est_jaccard against any probe), so the set of new docs flagged
    ≥ threshold and their cluster assignment (the anchor's connected
    component IS the cluster's) match the uncapped probe — pinned by
    the ``probe_admission_cap`` verdict query on a planted
    batch-vs-mega-cluster fixture, with natural (under-cap) pairs
    byte-identical by construction. What the cap does NOT promise: a
    corpus doc hidden past the per-group anchor budget (> cap
    DISTINCT signatures inside one band-hash group), or whose
    similarity lives purely in position-level partial sig matches
    inside bands it shares with a different-sig crowd, can be
    missed; tables written before the ``sig_fp`` band column existed
    degrade further to a single min-id anchor per over-cap group,
    which additionally assumes over-cap groups are near-identical
    clusters. Use the capped mode to feed the gate; leave it None
    when every pairwise estimate matters.

    ``new_band_keys``: optional PRE-COLLECTED distinct
    ``xxhash64(band_idx, band_hash)`` values of the batch's band
    relation (:func:`collect_band_keys`). The probe then derives its
    touched-bucket IN-list driver-side (``key % n_buckets`` — Python
    ``%`` is pmod) instead of running the per-probe bucket-collect
    job; band keys are ``n_buckets``-independent, so one collect
    serves probes across geometry migrations. Same agreement contract
    as ``new_sigs``: the keys MUST be the batch's own at the table's
    ``bands``, or the pruned scan silently misses buckets — keys
    collected at another band count raise ``ValueError``.

    ``new_sigs``: optional PRE-COMPUTED batch signatures — a
    materialized (``id_col``, sig) relation exactly as
    :func:`minhash_signatures` produces for this batch at the table's
    ``num_perm``. Signatures depend only on the shingles and
    ``num_perm`` (never on banding or bucket geometry), so a caller
    probing the SAME batch several times — the maintenance/rebucket
    verdicts probe before and after each mutation, the admission-cap
    verdict probes capped and uncapped — computes them once and
    passes them here instead of paying the explode + 64-min-aggregate
    job per probe (r12 optimization; results are bit-identical
    because the signature relation is deterministic).

    Snapshot semantics: against a VERSIONED table (any table that has
    been rebucketed/compacted) the scans are version-pinned — dir
    paths resolve through ``os.path.realpath`` into the current
    version dir, so a returned DataFrame stays consistent across a
    later publish for as long as that version is retained. A probe
    created against a not-yet-versioned (plain-directory) table
    re-binds through the first ``ensure_versioned`` rename: hold such
    a result across a mutation only after materializing it
    (``cut_lineage``/collect) — Spark's cache-by-path invalidation
    will otherwise lazily recompute even a persisted plan against the
    mutated table."""
    import os

    meta = _read_sig_meta(path)
    num_perm, bands = meta["num_perm"], meta["bands"]
    n_buckets = meta["n_buckets"]
    keys_bands = getattr(new_band_keys, "bands", None)
    if new_band_keys is not None and keys_bands != bands:
        raise ValueError(
            f"new_band_keys were collected at bands={keys_bands} but the "
            f"table at {path} has bands={bands}; collect them with "
            "collect_band_keys(sigs, _read_sig_meta(path)['bands'])")
    if max_batch_id_exclusive is not None and not meta["keyed"]:
        raise ValueError(
            f"table at {path} is not batch_id-keyed; "
            "max_batch_id_exclusive is meaningless")

    def _empty() -> DataFrame:
        # id-typed, not hard-coded long: string-keyed tables must get
        # string-typed empty frames or unions against a nonempty
        # probe result become schema-dependent on corpus emptiness
        idt = (new_shingled if new_shingled is not None
               else new_sigs).schema[id_col].dataType
        return spark.createDataFrame([], T.StructType([
            T.StructField("new_id", idt),
            T.StructField("old_id", idt),
            T.StructField("est_jaccard", T.DoubleType())]))

    # meta lands before the data commits: a first write that crashed
    # mid-flight, or whose batch had zero signable docs, leaves a
    # table with meta but no parquet — an empty corpus, not an error
    # (the retry-idempotent gate depends on the probe tolerating it)
    if not (_has_data_files(path + "/bands")
            and _has_data_files(path + "/sigs")):
        return _empty()

    def _epoch(df: DataFrame) -> DataFrame:
        if max_batch_id_exclusive is not None:
            return df.filter(
                F.col("batch_id") < F.lit(max_batch_id_exclusive))
        return df

    man = _resolve_manifest(path)

    def _pruned_scan(sub: str, col: str,
                     bucket_vals: list[int]) -> DataFrame | None:
        """Scan of ``{path}/{sub}`` restricted to ``bucket_vals``.

        With a manifest, the touched dirs are resolved DRIVER-side
        and passed as explicit paths (basePath keeps the partition
        columns), so Spark never lists the other n_buckets−touched
        dirs — the fixed per-probe listing cost that grows with
        n_buckets (17.9 s at 5,120 dirs on local FS) drops to a dict
        lookup. The partition IN-filter (and the epoch filter) stay
        on the relation as belt-and-braces against a stale manifest
        — and they keep the pinned plan shape: two partition-pruned
        scans. None ⇒ no matching dirs (empty corpus slice).
        Pre-manifest tables fall back to the recursive root read."""
        want = set(bucket_vals)
        if man is None:
            return _epoch(spark.read.parquet(path + "/" + sub)) \
                .filter(F.col(col).isin(bucket_vals))
        root = os.path.realpath(path + "/" + sub)
        sel = []
        for rel in man.get(sub, {}):
            parts = dict(p.split("=", 1) for p in rel.split("/"))
            if int(parts[col]) not in want:
                continue
            bid = parts.get("batch_id")
            if (max_batch_id_exclusive is not None and bid is not None
                    and int(bid) >= max_batch_id_exclusive):
                continue
            sel.append(os.path.join(root, rel))
        if not sel:
            return None
        df = spark.read.option("basePath", root).parquet(*sorted(sel))
        return _epoch(df).filter(F.col(col).isin(bucket_vals))

    if new_sigs is None:
        # LAZY cut when the bucket collect below is the next action —
        # that collect computes every partition of the signature
        # relation, so the checkpoint fuses into it (one job instead
        # of checkpoint-job + collect-job). With pre-collected band
        # keys the collect is skipped, so the cut must stay eager
        # (the next consumer is the probe join, whose concurrent AQE
        # subplans would race a lazy checkpoint — see _materialize).
        new_sigs = _materialize(
            minhash_signatures(new_shingled, id_col, shingles_col,
                               num_perm),
            eager=new_band_keys is not None)
    # NOT separately materialized: the band explode is a cheap narrow
    # map over the already-checkpointed signatures, so its two
    # consumers (the bucket collect and the probe join's build side)
    # re-derive it instead of paying another eager-checkpoint job —
    # probe latency is dominated by fixed per-job overhead at small
    # batch sizes
    new_banded = (new_sigs.select(
        F.col(id_col).alias("new_id"),
        F.col("sig").alias("sig_new"),
        _band_explode(bands).alias("band_idx", "band_hash"))
        .withColumn("bucket",
                    F.pmod(F.xxhash64("band_idx", "band_hash"),
                           F.lit(n_buckets)).cast("int")))
    # the batch's touched band buckets — k-bounded collect (≤ n_buckets
    # ints) off the MATERIALIZED new side, then pushed as a literal
    # IN-list so the parquet source partition-prunes the corpus scan;
    # with pre-collected band keys the list is derived driver-side
    # (key % n_buckets == pmod — value-identical to the Spark collect,
    # pinned by tests/test_dedup.py) and the job is skipped entirely
    if new_band_keys is not None:
        buckets = sorted({k % n_buckets for k in new_band_keys})
    else:
        buckets = sorted({r["bucket"] for r in
                          new_banded.select("bucket").distinct()
                          .collect()})
    if not buckets:              # batch had no signable docs
        return _empty()
    corpus_bands = _pruned_scan("bands", "bucket", buckets)
    if corpus_bands is None:     # batch touches no existing dirs
        return _empty()
    if max_candidates_per_new is not None:
        # corpus-side star collapse BEFORE the join: over-cap
        # band-hash groups are reduced to ≤ cap REPRESENTATIVE rows —
        # one min-id anchor per DISTINCT stored signature (sig_fp),
        # largest signature subgroups first — instead of a single
        # min-id anchor. Sig-identical boilerplate still collapses to
        # one row (the common case the cap exists for), but a member
        # whose signature genuinely differs from the crowd's keeps its
        # own anchor, so it can't be hidden behind a sub-threshold
        # crowd anchor (ADVICE r10 #2); the emission bound is
        # unchanged (each group contributes ≤ cap rows either way). A
        # group never straddles buckets (bucket = hash(band_idx,
        # band_hash)), so the windows over the PRUNED rows see exact
        # group sizes; one extra shuffle over pruned rows, capped mode
        # only. RESIDUAL (caller-facing contract): the collapse is
        # exact at signature granularity (up to 64-bit sig_fp
        # collisions between distinct signatures in one over-cap
        # group, ~n²·2⁻⁶⁵) — a near-dup whose only
        # overlap with the batch is POSITION-level partial sig matches
        # inside bands it shares with a different-sig crowd can still
        # be missed; pre-fp legacy tables (meta lacks sig_fp) fall
        # back to the single min-id anchor, which additionally assumes
        # over-cap groups are near-identical clusters.
        from pyspark.sql import Window
        wb = Window.partitionBy("band_idx", "band_hash")
        cap = F.lit(max_candidates_per_new)
        if meta.get("sig_fp", False):
            wsig = Window.partitionBy("band_idx", "band_hash",
                                      "sig_fp")
            wrank = wb.orderBy(F.desc("_sn"), "_sa")
            corpus_bands = (corpus_bands
                            .withColumn("_n", F.count(F.lit(1)).over(wb))
                            .withColumn("_sa", F.min("doc_id").over(wsig))
                            .withColumn("_sn",
                                        F.count(F.lit(1)).over(wsig))
                            .withColumn("_sr", F.dense_rank().over(wrank))
                            .filter((F.col("_n") <= cap)
                                    | ((F.col("doc_id") == F.col("_sa"))
                                       & (F.col("_sr") <= cap)))
                            .drop("_n", "_sa", "_sn", "_sr"))
        else:
            corpus_bands = (corpus_bands
                            .withColumn("_n", F.count(F.lit(1)).over(wb))
                            .withColumn("_a", F.min("doc_id").over(wb))
                            .filter((F.col("_n") <= cap)
                                    | (F.col("doc_id") == F.col("_a")))
                            .drop("_n", "_a"))
    cand = (corpus_bands
            .join(F.broadcast(new_banded.drop("bucket")),
                  ["band_idx", "band_hash"])
            .filter(F.col("new_id") != F.col("doc_id"))
            .select("new_id", F.col("doc_id").alias("old_id"), "sig_new")
            .dropDuplicates(["new_id", "old_id"]))
    if materialize:
        # LAZY cut: the doc-bucket collect right below is the
        # materializing action (it computes every candidate partition
        # before any other consumer exists), so the candidate relation
        # costs one job instead of checkpoint-job + collect-job (r13
        # optimization; the estimate join below then reads the cached
        # blocks exactly as before)
        cand = _materialize(cand, eager=False)
    # candidate old-ids' doc buckets — O(collisions) distinct values.
    # The same bounded collect carries a free width check (ADVICE r12
    # #1): a ``new_sigs`` built at a different num_perm than the
    # table's meta would silently yield unmatchable band hashes and
    # wrong estimates — surface it loudly instead (zero extra jobs;
    # the width is constant per batch so the distinct stays tiny).
    doc_rows = cand.select(
        F.pmod(F.xxhash64("old_id"), F.lit(n_buckets)).cast("int")
        .alias("b"), F.size("sig_new").alias("w")).distinct().collect()
    bad_w = {r["w"] for r in doc_rows} - {num_perm}
    if bad_w:
        raise ValueError(
            f"new_sigs signature width(s) {sorted(bad_w)} != table "
            f"num_perm={num_perm} at {path}; matching widths are "
            "required for band compatibility")
    doc_buckets = sorted({r["b"] for r in doc_rows})
    if not doc_buckets:          # no collisions: empty probe result
        return _empty()
    sidecar = _pruned_scan("sigs", "doc_bucket", doc_buckets)
    if sidecar is None:          # stale-manifest guard: no sig dirs
        return _empty()
    sidecar = sidecar.select(F.col("doc_id").alias("old_id"),
                             F.col("sig").alias("sig_old"))
    est = (F.size(F.filter(F.zip_with("sig_new", "sig_old",
                                      lambda x, y: x == y),
                           lambda v: v)).cast("double") / num_perm)
    # no broadcast HINT on the candidate side: collisions are usually
    # batch-sized (AQE broadcasts them anyway) but are UNBOUNDED under
    # a boilerplate mega-cluster — a forced broadcast of millions of
    # 64-long-sig rows would blow the broadcast/driver limits exactly
    # when the probe is under the most load; let AQE pick from the
    # runtime size
    result = (cand.join(sidecar, "old_id")
              .select("new_id", "old_id", est.alias("est_jaccard"))
              .filter(F.col("est_jaccard") >= threshold))
    if max_candidates_per_new is not None:
        # per-new output bound applied AFTER the threshold, ranked by
        # estimate (strongest partners kept, old_id tie-break): an
        # order-by-old_id cap BEFORE the estimate could evict a true
        # near-dup behind a crowd of low-id sub-threshold collisions
        # and silently unflag the doc. The emission bound doesn't
        # need this stage — the corpus-side star collapse above
        # already keeps the join input ≤ batch·bands·cap; this stage
        # only enforces the literal per-new output contract over
        # already-thresholded rows.
        from pyspark.sql import Window
        wn = Window.partitionBy("new_id").orderBy(
            F.desc("est_jaccard"), "old_id")
        result = (result.withColumn("_rn", F.row_number().over(wn))
                  .filter(F.col("_rn") <= F.lit(max_candidates_per_new))
                  .drop("_rn"))
    return result


def rebucket_signature_table(spark, path: str, n_buckets: int) -> dict:
    """Geometry migration for the banded signature table (VERDICT r9
    ask #3): rewrite BOTH subtables under a new ``n_buckets`` and
    publish data + ``meta.json`` + ``manifest.json`` together as ONE
    atomic version flip of the whole table directory
    (``operators.table_io``).

    The production sizing policy (PLANS.md §Round-9) is n_buckets ∝
    corpus so the pruned probe's scanned bytes stay constant — but
    append geometry is frozen at first write (mismatches raise), so a
    live table grown 100× needs this migration. Shape:

    * each subtable rewrites in ONE Spark job — read through the
      current version, recompute the bucket column from the SAME
      stored columns the writer hashed (``xxhash64(band_idx,
      band_hash)`` / ``xxhash64(doc_id)``, types round-trip through
      parquet so the hashes are identical), ``partitionBy`` write
      into the staged version dir. Cost is one pass over the
      signature state (k longs per doc × bands) — never the corpus
      text. When the new geometry is a MULTIPLE of the old
      (``n_new % n_old == 0`` — the production growth shape:
      doubling as the corpus doubles), the rewrite is a NARROW map
      with no shuffle at all: ``h mod n_new`` refines ``h mod
      n_old``, so every old bucket dir splits locally into exactly
      ``n_new/n_old`` new dirs and each task touches only its input
      dirs' images (plan pinned shuffle-free in
      tests/test_dedup.py). Non-multiple geometries co-locate with a
      ``repartition`` on the new bucket first — full shuffle of the
      signature state, still one job;
    * ``meta.json`` (with the new n_buckets) and a rebuilt manifest
      are written INSIDE the staged version dir, then
      ``publish_version`` flips the table symlink: a prober resolves
      geometry, manifest, and data through the same pointer, so it
      sees the old geometry or the new, never a mix — the
      probe/table drift the meta file exists to prevent cannot occur
      mid-migration. A crash before the flip leaves the current
      version untouched (``cleanup_stale`` sweeps the debris);
    * probe-before == probe-after as an exact multiset, pinned by the
      ``signature_table_rebucket`` verdict query; the previous
      version is retained so an in-flight probe finishes its scan.

    Appends after the migration must pass the NEW n_buckets (or adopt
    it from meta); the loud geometry check is unchanged. Returns
    {n_buckets_old, n_buckets_new, bands_dirs, sigs_dirs}."""
    import json
    import os

    from . import table_io

    path = path.rstrip("/")
    meta = _read_sig_meta(path)
    old_n = meta["n_buckets"]
    man = _resolve_manifest(path)
    if n_buckets == old_n:
        if man is None:
            man = rebuild_signature_manifest(path)
        return {"n_buckets_old": old_n, "n_buckets_new": n_buckets,
                "bands_dirs": len(man["bands"]),
                "sigs_dirs": len(man["sigs"]), "skipped": True}
    table_io.ensure_versioned(path)
    table_io.cleanup_stale(path)
    cur = table_io.current_version(path)
    vdir = table_io.next_version_dir(path)
    os.makedirs(vdir)
    keyed = meta["keyed"]
    # multiple-of-old geometry: h mod n_new determines h mod n_old,
    # so each old dir's rows land in exactly n_new/n_old new dirs —
    # a narrow local split, no co-locating shuffle needed (each task
    # writes only its own input dirs' images). The production growth
    # path at 100 TB state scale: doubling is a map job over the
    # signature state, not a full reshuffle of it.
    narrow = n_buckets % old_n == 0

    def _rewrite(sub: str, part_col: str, bucket_expr) -> None:
        if not _has_data_files(cur + "/" + sub):
            return
        df = (spark.read.parquet(os.path.realpath(cur + "/" + sub))
              .withColumn(part_col,
                          F.pmod(bucket_expr,
                                 F.lit(n_buckets)).cast("int")))
        if not narrow:
            df = df.repartition(F.col(part_col))
        (df.write.partitionBy(*(["batch_id", part_col] if keyed
                                else [part_col]))
         .mode("overwrite").parquet(vdir + "/" + sub))

    _rewrite("bands", "bucket", F.xxhash64("band_idx", "band_hash"))
    _rewrite("sigs", "doc_bucket", F.xxhash64("doc_id"))
    with open(vdir + "/meta.json", "w") as f:       # staged, unpublished
        json.dump(dict(meta, n_buckets=n_buckets), f)
    man = rebuild_signature_manifest(vdir)
    table_io.publish_version(path, vdir)
    return {"n_buckets_old": old_n, "n_buckets_new": n_buckets,
            "narrow": narrow,
            "bands_dirs": len(man["bands"]),
            "sigs_dirs": len(man["sigs"])}


def maintain_signature_table(spark, path: str,
                             target_rows_per_bucket: int = 2_000_000,
                             max_files_per_dir: int = 16,
                             compact_target_bytes: int = 128 * 1024
                             * 1024) -> dict:
    """Manifest-driven maintenance policy for the banded signature
    table — the executable form of the n_buckets ∝ corpus sizing rule
    (PLANS.md §Round-9/-10). PLANNING IS ZERO SPARK JOBS: every
    decision reads the driver-side manifest (dir → rows/files), never
    the data.

    Two triggers, applied in order:

    * **growth**: when the band index averages more than
      ``target_rows_per_bucket`` rows per bucket, double n_buckets
      until back under target (always a power-of-two multiple of the
      current geometry, so :func:`rebucket_signature_table` takes its
      NARROW shuffle-free split path). Constant rows-per-bucket is
      what keeps the pruned probe's scanned bytes flat as the corpus
      grows — touched dirs ≤ batch·bands regardless of n_buckets,
      rows/dir held ≈ constant by this policy.
    * **small files**: when any subtable dir accretes more than
      ``max_files_per_dir`` files (micro-append accretion — ~one
      file per touched dir per append), compact that subtable
      (``operators.compaction.compact_parquet``: per-dir layout
      preserved, atomic version publish, probe-invariant — pinned by
      the ``signature_table_maintenance`` verdict query). Skipped
      when a rebucket already ran: the rebucket rewrite IS a
      compaction (one file set per fresh dir).

    Returns {rebucketed, n_buckets, compacted, bands_rows,
    rows_per_bucket} — callers log it; a no-op maintenance pass
    costs only the manifest read. Crash-safe by composition: both
    actions publish atomically and the manifest travels with each
    publish."""
    meta = _read_sig_meta(path)
    man = _resolve_manifest(path) or rebuild_signature_manifest(path)
    bands_rows = sum(_man_rows(v) for v in man["bands"].values())
    n = meta["n_buckets"]
    rpb = bands_rows / max(n, 1)
    target_n = n
    while bands_rows / max(target_n, 1) > target_rows_per_bucket:
        target_n *= 2
    rebucketed = False
    if target_n != n:
        stats = rebucket_signature_table(spark, path, target_n)
        assert stats["narrow"], stats     # power-of-two multiple
        n, rebucketed = target_n, True
        man = _read_manifest(path)
    compacted = []
    if not rebucketed:
        from .compaction import compact_parquet
        for sub in ("bands", "sigs"):
            if any(_man_files(v) > max_files_per_dir
                   for v in man[sub].values()):
                compact_parquet(spark, path + "/" + sub,
                                target_bytes=compact_target_bytes,
                                force=True)
                compacted.append(sub)
        if compacted:
            # dir set and per-dir rows are compaction-invariant, but
            # file counts changed — refresh them
            rebuild_signature_manifest(path)
    return {"rebucketed": rebucketed, "n_buckets": n,
            "compacted": compacted, "bands_rows": bands_rows,
            "rows_per_bucket": round(rpb, 1)}


def remove_duplicated_spans(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            seg_tokens: int = 8,
                            min_df: int = 3) -> DataFrame:
    """Corpus-wide duplicated-span removal — the CCNet/RefinedWeb
    boilerplate pass, generalized from newline-lines to fixed
    ``seg_tokens``-token segments for whitespace corpora.

    Segment every document, count each segment's distinct-document
    frequency, drop segments appearing in >= ``min_df`` docs, and
    reassemble the survivors in order. Returns (id_col, clean_text,
    kept_segs, total_segs); a document that was ALL boilerplate
    survives with empty ``clean_text`` so downstream accounting sees
    it was emptied rather than silently losing the row.

    Plan shape (pinned in tests/test_plans.py via the ``dedup_spans``
    registry twin): the corpus-wide frequency count shuffles on the
    16-byte md5 digest of the segment — never the text — and the
    rebuild shuffles surviving segments on ``id_col`` (the one
    irreducible text exchange: reassembled text IS the output).
    Segment order is restored with an in-array sort per doc, not a
    global sort.
    """
    t = F.split(F.col(text_col), " ")
    nseg = F.ceil(F.size(t) / F.lit(float(seg_tokens))).cast("long")
    reb = duplicated_span_survivors(docs, text_col, id_col,
                                    seg_tokens, min_df)
    return (docs.select(id_col, nseg.alias("total_segs"))
            .join(reb, id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("kept_segs", F.lit(0)).cast("long")
                    .alias("kept_segs"),
                    "total_segs"))


def duplicated_span_survivors(docs: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id",
                              seg_tokens: int = 8,
                              min_df: int = 3) -> DataFrame:
    """The rebuild aggregate of :func:`remove_duplicated_spans`
    WITHOUT the doc-spine join-back: (id_col, clean_text, kept_segs)
    for every document that kept at least one segment. Documents
    that were ALL boilerplate are simply absent. This is the shape a
    pipeline composition wants (curate_corpus stage 4b inner-joins it
    and drops emptied docs anyway) — using the full operator there
    would pay one redundant corpus-wide join per run just to attach
    accounting columns that get discarded."""
    t = F.split(F.col(text_col), " ")
    nseg = F.ceil(F.size(t) / F.lit(float(seg_tokens))).cast("long")
    seg_arr = F.transform(
        F.sequence(F.lit(0).cast("long"), nseg - 1),
        lambda i: F.array_join(
            F.slice(t, (i * seg_tokens + 1).cast("int"), seg_tokens), " "))
    segs = (docs.select(id_col, F.posexplode(seg_arr).alias("i", "seg"))
            .withColumn("h", F.md5("seg")))
    freq = segs.groupBy("h").agg(F.count_distinct(id_col).alias("df"))
    kept = (segs.join(freq, "h")          # reuses the digest partitioning
            .filter(F.col("df") < min_df))
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.struct("i", "seg"))),
                         lambda x: x["seg"]), " ").alias("clean_text"),
                 F.count(F.lit(1)).alias("kept_segs")))
