"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale notes (the design constraints, per SURVEY §7):

* **Exact**: fingerprint → ``groupBy(fp).agg(min(id))`` → left-semi join.
  One shuffle on the (small) fingerprint, partial-agg combines map-side.
* **MinHash**: signatures are computed **without any shuffle** —
  ``array_min(transform(shingles, h_i))`` per hash function is a pure
  projection, so a 100 TB corpus computes signatures in the scan stage.
  Only the LSH banding shuffles, and it shuffles ``docs × bands`` short
  rows, never the text.
* **SimHash**: same shape — per-bit majority over token hashes via
  ``aggregate`` on the token array, zero shuffle.
* **Hashing**: ``hash_mode="xxhash64"`` (JVM, fastest) for production;
  ``hash_mode="md5"`` derives a 32-bit value from the md5 hex prefix so an
  ANSI-SQL oracle (DuckDB) reproduces identical signatures — used by the
  correctness gate.

Reference tie-in: the reference has no dedup operators; these extend the
scan-and-classify engine into the training-data pipeline the north rule
describes (conv-level MinHash signatures, BASELINE.json:north_star).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType
from pyspark.sql.window import Window


# --------------------------------------------------------------------------
# Tokenize / shingle
# --------------------------------------------------------------------------

def tokens_expr(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(r"(\S+)"), 1)


def shingles_expr(col, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (pure projection).

    Built by zipping the token array with its shifted slices — NEVER by
    per-element ``element_at`` lambdas: Catalyst inlines outer array
    expressions into lambda bodies, so an element-indexed formulation
    re-tokenizes the text once per shingle per reference (measured 60×
    slowdown).  Here the token array is referenced a constant number of
    times per row."""
    toks = tokens_expr(col)
    joined = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.size(toks))
        joined = F.zip_with(joined, shifted,
                            lambda a, b: F.concat(a, F.lit(" "), b))
    full = F.slice(joined, 1, F.size(toks) - n + 1)
    return F.when(F.size(toks) >= n, full) \
            .otherwise(F.array(F.concat_ws(" ", toks)))


# --------------------------------------------------------------------------
# Hash families
# --------------------------------------------------------------------------

def _hash_fn(mode: str, seed: int):
    """Returns f(Column[string]) -> Column[long] for hash family member
    ``seed``.

    md5 mode slices FOUR 32-bit hash values out of every md5 digest
    (``seed`` 0-3 share digest ``md5(s||'#g0')``, 4-7 share ``'#g1'``, …),
    so a k-member family costs ceil(k/4) md5 calls instead of k — measured
    4× less hashing on the LSH hot path.  Oracle parity: DuckDB
    ``('0x'||substr(md5(s||'#g<seed//4>'), 1+8*(seed%4), 8))::BIGINT``
    (queries._sql_md5_hash renders exactly this)."""
    if mode == "xxhash64":
        return lambda c: F.xxhash64(c, F.lit(seed))
    if mode == "md5":
        g, j = divmod(seed, 4)
        return lambda c: F.conv(
            F.substring(F.md5(F.concat(c, F.lit(f"#g{g}"))), 1 + 8 * j, 8),
            16, 10).cast("long")
    raise ValueError(f"unknown hash_mode {mode!r}")


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(fingerprint, canonical_id, dup_count) for fingerprints seen >1 time.
    Null-text rows are excluded (a missing document is not a duplicate of
    another missing document)."""
    from ..functions.text import fingerprint_expr

    fp = df.filter(F.col(text_col).isNotNull()) \
        .select(F.col(id_col).alias("id"),
                fingerprint_expr(text_col).alias("fingerprint"))
    return (fp.groupBy("fingerprint")
            .agg(F.min("id").alias("canonical_id"), F.count("*").alias("dup_count"))
            .filter(F.col("dup_count") > 1))


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per normalized-text fingerprint.

    Null-text rows pass through unchanged: their fingerprint coalesces to a
    per-row sentinel (unique by id), so the null-rejecting semi-join equality
    can never silently drop them — previously every null-text row was
    discarded because ``fingerprint(null)`` is null."""
    from ..functions.text import fingerprint_expr

    fp = F.coalesce(fingerprint_expr(text_col),
                    F.concat(F.lit("__null__:"), F.col(id_col).cast("string")))
    with_fp = df.withColumn("_fp", fp)
    keep = (with_fp.groupBy("_fp")
            .agg(F.min(F.col(id_col)).alias(id_col)))
    return with_fp.join(keep, on=["_fp", id_col], how="left_semi").drop("_fp")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

_LONG_MAX = (1 << 63) - 1


def minhash_struct_expr(shingles: Column, k: int = 16,
                        hash_mode: str = "xxhash64") -> Column:
    """All k min-hashes in ONE ``aggregate`` fold with a struct accumulator
    — zero-shuffle projection, and the shingle array is evaluated exactly
    once per row (k independent folds re-evaluated the tokenize+zip shingle
    expression k times: measured 6× slower at sf0.1).

    md5 mode additionally pre-hashes each shingle into ceil(k/4) digests
    with ``transform`` and slices four 32-bit values per digest inside the
    fold, cutting md5 calls 4×.  Returns struct(m0..m{k-1})."""
    zero = F.struct(*[F.lit(_LONG_MAX).cast("long").alias(f"m{i}")
                      for i in range(k)])
    if hash_mode == "md5":
        n_groups = (k + 3) // 4
        digests = F.transform(
            shingles,
            lambda x: F.struct(*[F.md5(F.concat(x, F.lit(f"#g{g}")))
                                 .alias(f"d{g}") for g in range(n_groups)]))

        def h_from(d, i):
            g, j = divmod(i, 4)
            return F.conv(F.substring(d[f"d{g}"], 1 + 8 * j, 8),
                          16, 10).cast("long")

        return F.aggregate(
            digests, zero,
            lambda acc, d: F.struct(*[
                F.least(acc[f"m{i}"], h_from(d, i)).alias(f"m{i}")
                for i in range(k)]))
    if hash_mode == "xxhash64":
        return F.aggregate(
            shingles, zero,
            lambda acc, x: F.struct(*[
                F.least(acc[f"m{i}"], F.xxhash64(x, F.lit(i))).alias(f"m{i}")
                for i in range(k)]))
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       k: int = 16, shingle_n: int = 3,
                       hash_mode: str = "xxhash64") -> DataFrame:
    """(id, mh_0..mh_{k-1}) signature frame.  Two-step select: the struct
    fold materializes as one non-cheap alias (CollapseProject keeps it),
    then the k field extracts are cheap."""
    sh = shingles_expr(text_col, shingle_n)
    return (df.select(F.col(id_col).alias("id"),
                      minhash_struct_expr(sh, k, hash_mode).alias("_mh"))
            .select("id", *[F.col(f"_mh.m{i}").alias(f"mh_{i}")
                            for i in range(k)]))


def _bucket_pairs(exploded: DataFrame, key_cols: Sequence[str],
                  extra_cols: Sequence[str] = (),
                  max_bucket: Optional[int] = None,
                  mark_star: bool = False,
                  project=None) -> DataFrame:
    """Self-join rows sharing a bucket key into candidate pairs
    (id_a < id_b, distinct); ``extra_cols`` are carried through as
    ``<col>_a`` / ``<col>_b``.

    ``max_bucket`` is the web-scale guard: a mega-cluster (boilerplate,
    empty templates) puts m near-identical rows in one bucket and the naive
    self-join emits m²/2 pairs out of a single reducer — at m=10⁶ that is
    5·10¹¹ rows.  Buckets over the cap instead emit only
    (bucket-min-id representative, member) star pairs: output is linear in
    bucket size and every member stays connected to its cluster *through
    the representative* — sufficient for downstream canonical-id/union-find
    dedup, but a member's pairing with OTHER members of the bucket is not
    emitted (see minhash_near_duplicates for the verification interplay).
    The bucket-size aggregate shuffles on the same key as the self-join, so
    AQE coalesces the exchanges.

    ``mark_star=True`` adds an ``is_star`` boolean column (True on
    capped-bucket representative pairs); a pair reachable both ways keeps
    ``is_star=False`` (the ordinary, verifiable path wins).

    ``project`` (optional, ``DataFrame -> DataFrame``) is applied to the
    raw pair rows BEFORE the distinct/dedup shuffle.  It must be a
    deterministic per-pair transformation (compute the verification score
    from the carried columns, drop the wide payload, optionally filter) —
    then the dedup shuffle carries a few scalars per pair instead of the
    full carried structs/vectors (for 16-hash signatures: ~10× less
    shuffle; for embedding vectors: ~50×)."""
    sel = [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")]
    for c in extra_cols:
        sel += [F.col(f"a.{c}").alias(f"{c}_a"), F.col(f"b.{c}").alias(f"{c}_b")]
    keys = list(key_cols)
    proj = project if project is not None else (lambda df: df)
    if max_bucket is None:
        a, b = exploded.alias("a"), exploded.alias("b")
        out = proj(a.join(b, on=keys)
                   .filter(F.col("a.id") < F.col("b.id"))
                   .select(*sel)).distinct()
        return out.withColumn("is_star", F.lit(False)) if mark_star else out

    # bucket size + representative via WINDOW functions over the banding
    # shuffle, not a groupBy + join back: a separate aggregate would
    # re-derive the exploded frame (and its upstream signature fold) per
    # reference — measured 3× duplicate computation in the optimized plan.
    # With the window, everything hangs off ONE exchange on the bucket key,
    # which the self-join's requirement then reuses.
    w = Window.partitionBy(*keys)
    tagged = exploded.select(
        *keys, "id", *extra_cols,
        F.count(F.lit(1)).over(w).alias("_n"),
        F.min(F.struct(F.col("id"),
                       *[F.col(c) for c in extra_cols])).over(w).alias("_rep"))
    small = tagged.filter(F.col("_n") <= max_bucket).drop("_n", "_rep")
    a, b = small.alias("a"), small.alias("b")
    small_pairs = (a.join(b, on=keys)
                   .filter(F.col("a.id") < F.col("b.id")).select(*sel))
    star_sel = [F.col("_rep.id").alias("id_a"), F.col("id").alias("id_b")]
    for c in extra_cols:
        star_sel += [F.col(f"_rep.{c}").alias(f"{c}_a"),
                     F.col(c).alias(f"{c}_b")]
    big_pairs = (tagged.filter((F.col("_n") > max_bucket)
                               & (F.col("id") != F.col("_rep.id")))
                 .select(*star_sel))
    if not mark_star:
        return proj(small_pairs.unionByName(big_pairs)).distinct()
    # distinct with a min(is_star) fold: a pair seen via both an ordinary
    # bucket and a capped one stays is_star=False (same shuffle as
    # distinct); the projection runs per side, then the flag is attached
    star_tagged = (proj(small_pairs).withColumn("is_star", F.lit(False))
                   .unionByName(
                       proj(big_pairs).withColumn("is_star", F.lit(True))))
    pair_cols = [c for c in star_tagged.columns if c != "is_star"]
    return (star_tagged.groupBy(*pair_cols)
            .agg(F.min("is_star").alias("is_star")))


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 4,
                        k: int = 16,
                        max_bucket: Optional[int] = 1024) -> DataFrame:
    """Band the k-column signature into ``bands`` buckets; docs sharing any
    band bucket become a candidate pair (id_a < id_b, distinct).

    Shuffles only (id, band_hash) — the classic scale-safe LSH join.
    ``max_bucket`` bounds hot buckets (see :func:`_bucket_pairs`) and
    defaults ON: with the default a mega-bucket of m rows emits O(m) star
    pairs instead of m²/2.  Pass ``max_bucket=None`` explicitly only for
    small oracle-parity inputs that need the exhaustive pair set."""
    exploded = _banded(signatures, lambda i: F.col(f"mh_{i}"), k, bands)
    return _bucket_pairs(exploded, key_cols=["band_idx", "band_hash"],
                         max_bucket=max_bucket)


def _validate_bands(k: int, bands: int) -> None:
    """bands must evenly divide k: ``k // bands == 0`` would hash EVERY
    document into one global band bucket (md5 of an empty string) and a
    non-dividing bands silently discards trailing signature rows."""
    if bands < 1 or k % bands != 0:
        raise ValueError(
            f"bands must divide k evenly (got k={k}, bands={bands})")


def _banded(sigs: DataFrame, mh, k: int, bands: int,
            carry: Sequence[str] = ()) -> DataFrame:
    """The LSH banding every MinHash candidate generator shares:
    ``(id, *carry, band_idx, band_hash)``, one row per (document, band).
    ``mh(i)`` is the i-th min-hash column of ``sigs``; band ``b`` hashes
    min-hashes ``b*k/bands .. (b+1)*k/bands - 1`` with md5, so every
    caller buckets a given signature identically."""
    _validate_bands(k, bands)
    rows_per_band = k // bands
    band_cols = [F.struct(
        F.lit(b).alias("band_idx"),
        F.md5(F.concat_ws(",", *[mh(b * rows_per_band + j).cast("string")
                                 for j in range(rows_per_band)]))
        .alias("band_hash")) for b in range(bands)]
    return (sigs.select("id", *carry,
                        F.explode(F.array(*band_cols)).alias("band"))
            .select("id", *carry, "band.band_idx", "band.band_hash"))


def _minhash_pairs(sigs: DataFrame, k: int, bands: int, threshold: float,
                   max_bucket: Optional[int],
                   keep_capped_star: bool = False) -> DataFrame:
    """Banded candidates of an ``(id, sig: struct<m0..m{k-1}>)`` frame,
    verified by signature agreement: ``(id_a, id_b, est_jaccard)`` with
    ``est_jaccard >= threshold`` (star pairs of capped buckets pass
    unverified under ``keep_capped_star``; see
    :func:`minhash_near_duplicates`)."""
    exploded = _banded(sigs, lambda i: F.col("sig")[f"m{i}"], k, bands,
                       carry=("sig",))
    agree = sum((F.col("sig_a")[f"m{i}"] == F.col("sig_b")[f"m{i}"]).cast("int")
                for i in range(k))
    est = (agree / F.lit(k)).alias("est_jaccard")
    # the projection collapses each pair row to (ids, est) BEFORE the
    # dedup shuffle — 3 scalars instead of two 16-long signature structs
    if keep_capped_star:
        pairs = _bucket_pairs(
            exploded, key_cols=["band_idx", "band_hash"],
            extra_cols=["sig"], max_bucket=max_bucket, mark_star=True,
            project=lambda df: df.select("id_a", "id_b", est))
        return (pairs.filter((F.col("est_jaccard") >= threshold)
                             | F.col("is_star"))
                .drop("is_star"))
    return _bucket_pairs(
        exploded, key_cols=["band_idx", "band_hash"],
        extra_cols=["sig"], max_bucket=max_bucket,
        project=lambda df: (df.select("id_a", "id_b", est)
                            .filter(F.col("est_jaccard") >= threshold)))


def minhash_near_duplicates(df: DataFrame, text_col: str, id_col: str,
                            k: int = 16, bands: int = 4, shingle_n: int = 3,
                            threshold: float = 0.7,
                            hash_mode: str = "xxhash64",
                            max_bucket: Optional[int] = 1024,
                            keep_capped_star: bool = False) -> DataFrame:
    """Full MinHash-LSH near-dup: candidates from banding, verified with the
    exact signature-agreement estimate ≥ threshold.  Hot band buckets are
    capped by default (``max_bucket``): over-cap buckets emit representative
    star pairs only, bounding the candidate set at web scale.

    Capped-bucket recall guarantee (exact): a member of an over-cap bucket
    is kept only through its (representative, member) star pair, and by
    default that pair must itself pass the ``est_jaccard >= threshold``
    verification — a member that is a true near-dup of *another* member but
    not of the representative is lost.  ``keep_capped_star=True`` passes
    star pairs through unverified (bucket membership already implies full
    band agreement); :func:`dedup_clusters` enables it so connectivity
    survives into connected components.  Star pairs kept this way report
    their real (possibly sub-threshold) ``est_jaccard``.

    Plan shape: the signature struct rides the banding shuffle as a carried
    column, so verification reads it straight off the pair rows — ONE
    shuffle total instead of banding + two signature re-joins (which also
    recomputed the signature fold three times; measured ~2× on sf0.1)."""
    sh = shingles_expr(text_col, shingle_n)
    # null-text rows never generate candidates: shingles(null) collapses
    # to [''] and every missing document would otherwise become an exact
    # near-dup of every other (missing != missing, dedup_exact principle)
    base = df.filter(F.col(text_col).isNotNull()) \
        .select(F.col(id_col).alias("id"),
                minhash_struct_expr(sh, k, hash_mode).alias("sig"))
    return _minhash_pairs(base, k, bands, threshold, max_bucket,
                          keep_capped_star)


def contamination_check(corpus: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_text_col: str = None, n: int = 13) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    ``n``-gram with an evaluation set (the GPT-3-style 13-gram rule).

    Returns (id, n_shared) — corpus docs with ≥1 distinct shared n-gram
    and how many.  Plan: the benchmark's n-gram set is tiny (eval sets
    are), so it broadcasts; the corpus side is one explode + a broadcast
    semi-ish join + groupBy(id) — the 100 TB corpus is scanned once and
    shuffles only (id, gram-hit) rows.  Hash the grams (xxhash64) in
    production to shrink the broadcast; the oracle-checked md5-free form
    compares gram strings directly."""
    bench_col = bench_text_col or text_col
    # adaptive gram length (GPT-3 appendix-C style): an eval item shorter
    # than n words would fall into shingles' whole-text fallback and only
    # match corpus docs equal to it VERBATIM — a 10-word question quoted
    # inside a 500-word training doc would pass undetected.  The
    # benchmark is eval-set-sized, so the driver-side min is metadata
    # scale.
    min_len = benchmark.select(
        F.min(F.size(tokens_expr(bench_col))).alias("m")).first()["m"]
    if min_len is not None and 0 < min_len < n:
        import warnings
        warnings.warn(
            f"contamination_check: shortest benchmark doc has {min_len} "
            f"words < n={n}; lowering the gram length to {min_len} so "
            f"short eval items embedded in longer corpus docs still match",
            stacklevel=2)
        n = min_len
    bench_grams = (benchmark
                   .select(F.explode(shingles_expr(bench_col, n))
                           .alias("gram"))
                   .distinct())
    corpus_grams = (corpus.select(F.col(id_col).alias("id"),
                                  F.explode(F.array_distinct(
                                      shingles_expr(text_col, n)))
                                  .alias("gram")))
    return (corpus_grams.join(F.broadcast(bench_grams), on="gram")
            .groupBy("id").agg(F.count("*").alias("n_shared")))


def incremental_lsh_pairs(index_sigs: DataFrame, new_sigs: DataFrame,
                          bands: int = 4, k: int = 16,
                          broadcast_new: bool = True) -> DataFrame:
    """Candidate pairs for an INCREMENTAL dedup batch: every new doc is
    banded and matched against the existing signature index AND the other
    new docs — but index×index pairs are never formed (the index is
    already deduplicated).

    The scale property: the join probes the (small) new batch against each
    index band row, so the 100 TB index is scanned once and NEVER
    self-joined — a daily increment costs O(index + new²-per-bucket)
    instead of re-running dedup over the whole corpus.  With
    ``broadcast_new`` (the normal case: increments fit in memory) the
    index side is not even shuffled.

    Inputs are signature frames from :func:`minhash_signatures` (same k /
    hash family for both).  Returns (id_a, id_b) with id_a < id_b,
    distinct; within-batch pairs appear once."""
    new_bands = _banded(new_sigs, lambda i: F.col(f"mh_{i}"), k, bands)
    all_bands = _banded(index_sigs, lambda i: F.col(f"mh_{i}"), k,
                        bands).unionByName(new_bands)
    probe = new_bands.withColumnRenamed("id", "new_id")
    if broadcast_new:
        probe = F.broadcast(probe)
    joined = (all_bands.join(probe, on=["band_idx", "band_hash"])
              .filter(F.col("id") != F.col("new_id")))
    return (joined.select(F.least("id", "new_id").alias("id_a"),
                          F.greatest("id", "new_id").alias("id_b"))
            .distinct())


# --------------------------------------------------------------------------
# Exact n-gram Jaccard (verification / small-set dedup)
# --------------------------------------------------------------------------

def jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                  candidates: Optional[DataFrame] = None,
                  shingle_n: int = 3, threshold: float = 0.0) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs (or the
    full self-cross if ``candidates`` is None — small inputs only; pass LSH
    candidates at scale)."""
    sh = df.select(F.col(id_col).alias("id"),
                   F.array_distinct(shingles_expr(text_col, shingle_n)).alias("sh"))
    if candidates is None:
        a, b = sh.alias("a"), sh.alias("b")
        pairs = a.crossJoin(b).filter(F.col("a.id") < F.col("b.id"))
    else:
        pairs = (candidates
                 .join(sh.alias("a"), candidates["id_a"] == F.col("a.id"))
                 .join(sh.alias("b"), candidates["id_b"] == F.col("b.id")))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return (pairs.select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
        (inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
         ).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold))


# --------------------------------------------------------------------------
# Connected components (cluster candidate pairs into dedup groups)
# --------------------------------------------------------------------------

def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """(id, component) for every id appearing in ``pairs`` — component =
    min id reachable through the pair graph.

    This is the consumer of the capped candidate streams: star pairs from
    hot buckets plus ordinary pairs both collapse into canonical clusters.
    Algorithm: min-label propagation with POINTER JUMPING — each round
    every node adopts the minimum label among itself and its neighbors
    (one groupBy over the short edge list), then labels are flattened one
    level (``label := label(label)``, a self-join).  Jumping is what turns
    O(diameter) propagation into O(log diameter): a length-d chain
    converges in ~log₂(d) rounds instead of d (regression-tested on a
    256-node path).  Correctness invariant: a node's label is always the
    id of some node reachable from it, and labels only decrease, so the
    fixpoint is the reachable minimum.  If the loop still exits without
    converging a ``RuntimeWarning`` is raised so wrong component ids can
    never pass silently (raise ``max_iter``).  ``localCheckpoint``
    truncates the growing lineage each round.

    Shuffles only (node, label) longs — never payload columns."""
    edges = (pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
             .unionByName(pairs.select(F.col("id_b").alias("a"),
                                       F.col("id_a").alias("b"))))
    labels = (edges.groupBy("a").agg(F.min("b").alias("_mn"))
              .select(F.col("a").alias("id"),
                      F.least(F.col("a"), F.col("_mn")).alias("component")))
    for _ in range(max_iter):
        # propagate: each node's new label = min(own, neighbors' labels)
        lbl_b = labels.select(F.col("id").alias("b"),
                              F.col("component").alias("nbr_component"))
        prop = (edges.join(lbl_b, on="b")
                .groupBy(F.col("a").alias("id"))
                .agg(F.min("nbr_component").alias("nbr_min")))
        stepped = (labels.join(prop, on="id", how="left")
                   .select("id",
                           F.least(F.col("component"),
                                   F.coalesce("nbr_min", F.col("component")))
                           .alias("component")))
        # pointer jump: label := label(label) — label targets are node ids,
        # so the lookup is a self-join on the same (id, component) frame
        jump = stepped.select(F.col("id").alias("component"),
                              F.col("component").alias("_jump"))
        new_labels = (stepped.join(jump, on="component", how="left")
                      .select("id",
                              F.least(F.col("component"),
                                      F.coalesce("_jump", F.col("component")))
                              .alias("component"))
                      .localCheckpoint(eager=True))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), on="id")
                   .filter(F.col("n.component") != F.col("o.component"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    else:
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds; "
            "component ids may span multiple labels per true cluster — "
            "raise max_iter (the graph has diameter > max_iter)",
            RuntimeWarning, stacklevel=2)
    return labels


def dedup_clusters(df: DataFrame, text_col: str, id_col: str,
                   k: int = 16, bands: int = 4, shingle_n: int = 3,
                   threshold: float = 0.7, hash_mode: str = "xxhash64",
                   max_bucket: Optional[int] = 1024) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidates (hot buckets
    capped) → signature-agreement verification → connected components.
    Returns (id, component); keep ``id == component`` rows to dedup.

    Star pairs from over-cap buckets enter the components UNVERIFIED
    (``keep_capped_star=True``): for clustering, dropping a star pair whose
    representative happens to miss the threshold would disconnect members
    of a genuine mega-cluster — bucket membership (full band agreement) is
    the candidate evidence here, and the component granularity absorbs the
    precision cost (LIMITATIONS §8)."""
    verified = minhash_near_duplicates(df, text_col, id_col, k, bands,
                                       shingle_n, threshold, hash_mode,
                                       max_bucket, keep_capped_star=True)
    return connected_components(verified.select("id_a", "id_b"))


def cluster_representatives(df: DataFrame, id_col: str,
                            components: DataFrame,
                            quality=None) -> DataFrame:
    """Per-cluster representative election — the step that turns a
    near-dup clustering into a KEEP/DROP decision that keeps the BEST
    copy, not an arbitrary one (the reference's scan surface scores rows;
    this is the dedup analog: score, then keep the top-scoring member of
    every duplicate cluster).

    ``components`` is a :func:`connected_components` / `dedup_clusters`
    output (id, component); documents absent from it are singletons
    (their own representative).  ``quality`` is a Column or column name
    evaluated against ``df`` (default: constant — min-id wins, matching
    `dedup_clusters`' keep rule).  Representative = max quality, ties
    broken by min id, elected with ``min(struct(-quality, id))`` as a
    whole-partition window aggregate over ``component`` — ONE shuffle of
    (id, component, quality) longs+double, no self-join, no per-cluster
    arrays; payload text never moves.  Skew note: a pathological
    all-duplicates corpus puts one cluster on one task — members are
    24-byte rows, so even a 10^8-member cluster is ~2.4 GB; cap upstream
    candidate generation (as `lsh_candidate_pairs` does) long before.

    Returns (id, component, cluster_size, rep_id, keep)."""
    if quality is None:
        q = F.lit(0.0)
    elif isinstance(quality, str):
        q = F.col(quality).cast("double")
    else:
        q = quality.cast("double")
    ids = df.select(F.col(id_col).alias("id"), q.alias("_q"))
    lab = (ids.join(components, "id", "left")
           .select("id", F.coalesce("component", "id").alias("component"),
                   "_q"))
    win = Window.partitionBy("component")
    best = F.min(F.struct((F.col("_q") * -1).alias("nq"),
                          F.col("id").alias("id"))).over(win)
    return (lab.select("id", "component",
                       F.count(F.lit(1)).over(win).alias("cluster_size"),
                       best.getField("id").alias("rep_id"))
            .withColumn("keep", F.col("id") == F.col("rep_id")))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_expr(col, bits: int = 64, hash_mode: str = "xxhash64") -> Column:
    """SimHash over word tokens: bit b set iff the per-bit majority of token
    hashes is 1.  Pure projection (zero shuffle): ONE aggregate fold carries
    all per-bit vote counters in a struct accumulator, so the token array is
    hashed exactly once per row regardless of ``bits``.

    Production default is the full 64-bit signature (xxhash64 supplies 64
    random bits); the md5 family only yields 32 random bits, so oracle-parity
    callers pass ``bits<=32`` explicitly (enforced: bits above the family's
    entropy would silently vote every high bit to 0)."""
    if hash_mode == "md5" and bits > 32:
        raise ValueError(
            f"hash_mode='md5' yields 32 random bits; bits={bits} would make "
            "bits 32..63 zero-entropy (all-same votes) and inflate collision "
            "rates — pass bits<=32 or hash_mode='xxhash64'")
    toks = F.array_distinct(tokens_expr(col))
    h = _hash_fn(hash_mode, 0)
    hashes = F.transform(toks, h)
    zero = F.struct(*[F.lit(0).cast("long").alias(f"v{b}") for b in range(bits)])

    def step(acc, x):
        return F.struct(*[
            (acc[f"v{b}"] + F.when(
                F.shiftrightunsigned(x, b).bitwiseAND(F.lit(1).cast("long")) == 1,
                F.lit(1).cast("long")).otherwise(F.lit(-1).cast("long"))
             ).alias(f"v{b}")
            for b in range(bits)])

    def finish(acc):
        # bitwiseOR + shiftleft, never addition of 1<<b: bit 63 as an
        # integer literal overflows long, and ANSI mode would reject the
        # wrap-around addition
        sim = F.lit(0).cast("long")
        for b in range(bits):
            sim = sim.bitwiseOR(
                F.when(acc[f"v{b}"] >= 0,
                       F.shiftleft(F.lit(1).cast("long"), b))
                .otherwise(F.lit(0).cast("long")))
        return sim

    return F.aggregate(hashes, zero, step, finish)


def simhash_near_duplicates(df: DataFrame, text_col: str, id_col: str,
                            bits: int = 64, max_hamming: int = 3,
                            hash_mode: str = "xxhash64",
                            max_bucket: Optional[int] = 1024) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Candidate generation splits the signature into ``max_hamming + 1``
    contiguous bit fields: by pigeonhole, any pair within Hamming distance
    ``max_hamming`` agrees on at least one whole field, so bucketing on each
    field has full recall at the advertised radius (the previous fixed
    two-block scheme silently missed distance-2 pairs that differed once in
    each half).  Shuffle is (id, block_key) only; the production shape is
    the 64-bit signature with 4×16-bit blocking (max_hamming=3).

    ``max_bucket`` caps hot blocks (see :func:`lsh_candidate_pairs`) and
    defaults ON: blocks larger than the cap emit only min-id-representative
    star pairs, which keeps output linear in cluster size and preserves
    connectivity through the representative.  As with MinHash, a capped
    star pair still passes the ``hamming <= max_hamming`` verification, so
    pass ``max_bucket=None`` explicitly for small exhaustive-pairs inputs
    (oracle parity) rather than relying on buckets staying small."""
    n_blocks = max_hamming + 1
    if n_blocks > bits:
        raise ValueError("max_hamming + 1 block fields need bits >= blocks")
    # null-text rows never generate candidates (empty token array yields
    # the all-ones signature — every missing doc would pair with every
    # other); missing != missing, dedup_exact principle
    sims = df.filter(F.col(text_col).isNotNull()) \
        .select(F.col(id_col).alias("id"),
                simhash_expr(text_col, bits, hash_mode).alias("simhash"))
    width = bits // n_blocks
    block_keys = []
    for i in range(n_blocks):
        lo_bit = i * width
        w = bits - lo_bit if i == n_blocks - 1 else width
        field = F.shiftrightunsigned(F.col("simhash"), lo_bit)
        if w < 64:
            field = field.bitwiseAND(F.lit((1 << w) - 1).cast("long"))
        block_keys.append(F.concat(F.lit(f"{i}:"), field.cast("string")))
    blocks = sims.select(
        "id", "simhash", F.explode(F.array(*block_keys)).alias("block"))
    hamming = F.bit_count(
        F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias("hamming")
    return _bucket_pairs(
        blocks, key_cols=["block"], extra_cols=["simhash"],
        max_bucket=max_bucket,
        project=lambda df: (df.select("id_a", "id_b", hamming)
                            .filter(F.col("hamming") <= max_hamming)))


# --------------------------------------------------------------------------
# Corpus-wide line-level dedup (C4 / Dolma paragraph-dedup family)
# --------------------------------------------------------------------------

def line_dedup(df: DataFrame, text_col: str, id_col: str,
               min_count: int = 2,
               hash_mode: str = "xxhash64") -> DataFrame:
    """Remove lines that repeat across the corpus, keeping only the first
    occurrence (C4's repeated-span rule / Dolma's paragraph dedup, applied
    at line granularity).

    A line participates in dedup iff its whitespace-trimmed form is
    non-empty; a line whose trimmed form occurs ``min_count``+ times
    corpus-wide survives only at the occurrence with the smallest
    ``(doc_id, position)`` and is deleted everywhere else.  Returns one row
    per input document: ``(id, clean_text, n_lines, n_removed)`` — docs
    whose every line is removed come back with ``clean_text = ''``.

    100 TB shape — the text column is shuffled AT MOST ONCE:

    * the duplicate-detection ``groupBy`` shuffles only
      ``(line_key, id, pos)`` short rows, never line text;
    * empty/whitespace lines are filtered out BEFORE the groupBy — on web
      corpora the empty line is by far the hottest key and would otherwise
      concentrate a huge fraction of the shuffle on one reducer;
    * the removal decision comes back to each doc as a small
      ``(id, [positions])`` list joined on ``id`` (broadcastable whenever
      the duplicate mass is modest), and the doc is rebuilt with a pure
      ``filter``-by-index projection — no line-level reassembly shuffle
      carrying text.

    Hot duplicate lines (boilerplate in millions of docs) fan out into
    large removal groups; that is the actual work, and AQE skew-join
    handles the join side.  Deletion is keyed on a **128-bit** line key —
    full ``md5`` in oracle mode, a dual-seed ``xxhash64`` struct in
    production — because this operator DESTROYS data on key equality
    with no candidate-verification step: a 64-bit key at 10^12 distinct
    lines already expects ~10^4 birthday collisions (each one a unique
    line silently deleted), while 128 bits makes the expectation ~1e-14.
    """
    if min_count < 2:
        raise ValueError("min_count < 2 would delete unique lines")
    lines = _line_occurrences(df, text_col, id_col, hash_mode)
    winners = (lines.groupBy("k")
               .agg(F.min(F.struct("_ld_id", "pos")).alias("w"),
                    F.count(F.lit(1)).alias("cnt"))
               .where(F.col("cnt") >= min_count)
               .select("k", F.col("w._ld_id").alias("w_id"),
                       F.col("w.pos").alias("w_pos")))
    removals = (lines.join(winners, "k")
                .where((F.col("_ld_id") != F.col("w_id"))
                       | (F.col("pos") != F.col("w_pos")))
                .groupBy("_ld_id")
                .agg(F.collect_list("pos").alias("_ld_rm")))
    return _rebuild_without_lines(df, text_col, id_col, removals)


def _rebuild_without_lines(df: DataFrame, text_col: str, id_col: str,
                           removals: DataFrame) -> DataFrame:
    """Rebuild each doc without its removed line positions.  ``removals``
    is ``(_ld_id, _ld_rm: array<int>)``.  The removed-position lookup is
    a per-row hash map: array_contains inside the filter would be
    O(lines × removals) on boilerplate-heavy docs.  The map is
    materialized as a COLUMN first — referencing it from the lambda as
    an attribute is safe; an inline map expression would be re-built per
    element by Catalyst's lambda inlining."""
    parts = F.split(F.col(text_col), "\n")
    rm = F.coalesce(F.col("_ld_rm"), F.array().cast("array<int>"))
    out = (df.join(removals, df[id_col] == removals["_ld_id"], "left")
           .withColumn("_ld_rm_map", F.map_from_arrays(
               rm, F.transform(rm, lambda _: F.lit(True)))))
    clean = F.array_join(
        F.filter(parts,
                 lambda x, i: F.try_element_at(F.col("_ld_rm_map"),
                                               i).isNull()),
        "\n")
    return out.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.size(parts).alias("n_lines"),
        F.size(F.map_keys("_ld_rm_map")).alias("n_removed"))


def incremental_exact_dedup(batch: DataFrame, index_fps: DataFrame,
                            text_col: str, id_col: str,
                            fp_col: str = "fingerprint") -> DataFrame:
    """Exact dedup of a NEW batch against an existing fingerprint index —
    the daily-crawl update path (the exact-hash twin of
    :func:`incremental_lsh_pairs`): rows whose normalized-text
    fingerprint is already indexed are dropped, and within the batch each
    novel fingerprint keeps its min-id representative.

    Returns the surviving batch rows (full schema).  Shuffle carries only
    ``(fingerprint, id)`` pairs; the index side of the anti-join prunes
    to its fingerprint column (never re-reads indexed text), and at
    production scale both sides bucket by fingerprint so the join is
    co-located.  Index maintenance is an append of the survivors'
    fingerprints — no rewrite."""
    from ..functions.text import fingerprint_expr

    # null-text rows pass through (per-row sentinel): fingerprint(null)
    # is null, and a bare groupBy would collapse EVERY null-text row in
    # the batch into one surviving min-id — same guard as dedup_exact
    fp = F.coalesce(fingerprint_expr(text_col),
                    F.concat(F.lit("__null__:"),
                             F.col(id_col).cast("string")))
    fps = batch.select(F.col(id_col).alias("_ie_id"), fp.alias("_ie_fp"))
    fresh = fps.join(
        index_fps.select(F.col(fp_col).alias("_ie_fp")), "_ie_fp",
        "left_anti")
    keep = (fresh.groupBy("_ie_fp")
            .agg(F.min("_ie_id").alias("_ie_keep_id"))
            .select(F.col("_ie_keep_id").alias(id_col)))
    return batch.join(keep, id_col, "left_semi")


def _line_key_fn(hash_mode: str):
    """128-bit line key family (the line_dedup policy: destructive ops
    never key on fewer bits)."""
    if hash_mode == "md5":
        return lambda c: F.md5(c)    # full 128-bit digest, not a slice
    if hash_mode == "xxhash64":
        return lambda c: F.struct(F.xxhash64(c, F.lit(0)).alias("h0"),
                                  F.xxhash64(c, F.lit(1)).alias("h1"))
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def _line_occurrences(df: DataFrame, text_col: str, id_col: str,
                      hash_mode: str) -> DataFrame:
    """``(_ld_id, pos, k)``: every line whose trimmed form is non-empty,
    with its position in the document and its 128-bit key."""
    hf = _line_key_fn(hash_mode)
    parts = F.split(F.col(text_col), "\n")
    # FULL whitespace semantics ('\s'), not F.trim's ASCII-space-only: a
    # CRLF corpus turns every blank line into '\r', which would both
    # become the hottest key in the corpus AND get deleted everywhere but
    # one global first occurrence — destroying paragraph structure
    norm = F.regexp_replace(F.col("line"), r"^\s+|\s+$", "")
    return (df.select(F.col(id_col).alias("_ld_id"),
                      F.posexplode(parts).alias("pos", "line"))
            .where(norm != "")
            .select("_ld_id", "pos", hf(norm).alias("k")))


def line_keys(df: DataFrame, text_col: str,
              hash_mode: str = "xxhash64") -> DataFrame:
    """Distinct 128-bit keys of every non-blank trimmed line — builds the
    initial index for :func:`incremental_line_dedup` and, applied to a
    batch's SURVIVORS, the append that maintains it (append-only, like
    the exact-dedup fingerprint index)."""
    hf = _line_key_fn(hash_mode)
    parts = F.split(F.col(text_col), "\n")
    norm = F.regexp_replace(F.col("line"), r"^\s+|\s+$", "")
    return (df.select(F.explode(parts).alias("line"))
            .where(norm != "")
            .select(hf(norm).alias("k")).distinct())


def incremental_line_dedup(batch: DataFrame, index_keys: DataFrame,
                           text_col: str, id_col: str,
                           min_count: int = 2,
                           hash_mode: str = "xxhash64") -> DataFrame:
    """Line dedup of a NEW batch against an existing line-key index —
    the daily-crawl update path completing the incremental family
    (exact → :func:`incremental_exact_dedup`, near-dup →
    :func:`incremental_lsh_pairs`, lines → here).  A batch line is
    removed when its key is already indexed (the corpus saw it — EVERY
    batch occurrence goes), or when it repeats ``min_count``+ times
    within the batch and this isn't the smallest-``(id, pos)``
    occurrence (the :func:`line_dedup` rule applied batch-locally).

    Shuffle shape: one left join of ``(key, id, pos)`` short rows
    against the index (pruned to its key column; bucket both sides by
    key at production scale for a co-located join), one key-grouped
    winner election REUSING the join's partitioning, and the standard
    position-list rebuild — batch text never rides a shuffle, indexed
    text is never re-read.

    Returns ``(id, clean_text, n_lines, n_removed)``; maintain the index
    by appending ``line_keys(result, "clean_text")``."""
    if min_count < 2:
        raise ValueError("min_count < 2 would delete unique lines")
    lines = _line_occurrences(batch, text_col, id_col, hash_mode)
    j = lines.join(index_keys.select("k").distinct()
                   .withColumn("_ix", F.lit(True)), "k", "left")
    # one pass per key: the batch-local winner is elected only among
    # non-indexed occurrences; keys present in the index need no winner
    stats = (j.groupBy("k").agg(
        F.min(F.when(F.col("_ix").isNull(),
                     F.struct("_ld_id", "pos"))).alias("w"),
        F.count(F.when(F.col("_ix").isNull(), F.lit(1))).alias("cnt"),
        F.max("_ix").alias("_ix_any")))
    removals = (j.select("k", "_ld_id", "pos")
                .join(stats, "k")
                .where(F.col("_ix_any")
                       | ((F.col("cnt") >= min_count)
                          & ((F.col("_ld_id") != F.col("w._ld_id"))
                             | (F.col("pos") != F.col("w.pos")))))
                .groupBy("_ld_id")
                .agg(F.collect_list("pos").alias("_ld_rm")))
    return _rebuild_without_lines(batch, text_col, id_col, removals)


def line_dedup_within(df: DataFrame, text_col: str,
                      id_col: str) -> DataFrame:
    """Within-document repeated-line removal — the page-local C4 rule
    (dedup lines inside one doc; :func:`line_dedup` is the corpus-wide
    variant).  A line survives at its FIRST occurrence in the doc;
    whitespace-only lines always survive.

    Pure zero-shuffle projection: runs in the scan stage at any corpus
    size.  The trimmed-line array is materialized as a column before the
    keep-filter — referencing it from the lambda as an attribute is
    safe, while an inline expression would be re-evaluated per element
    by Catalyst's lambda inlining.  First-occurrence lookup is
    ``array_position`` (O(lines²) string compares per doc — fine for
    real page sizes; a fold with a map accumulator is the linear upgrade
    if million-line docs appear).

    Returns ``(id, clean_text, n_lines, n_removed)``.
    """
    parts = F.split(F.col(text_col), "\n")
    _norm = lambda c: F.regexp_replace(c, r"^\s+|\s+$", "")  # noqa: E731
    staged = (df.withColumn("_ldw_parts", parts)
              .withColumn("_ldw_trim", F.transform(parts, _norm)))
    kept = F.filter(
        F.col("_ldw_parts"),
        lambda x, i: (_norm(x) == "")
        | (F.array_position(F.col("_ldw_trim"),
                            F.get(F.col("_ldw_trim"), i)) == i + 1))
    return staged.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size("_ldw_parts").alias("n_lines"),
        (F.size("_ldw_parts") - F.size(kept)).alias("n_removed"))


# --------------------------------------------------------------------------
# Corpus-wide duplicate-SPAN dedup (exact-substring family, token windows)
# --------------------------------------------------------------------------

def span_dedup(df: DataFrame, text_col: str, id_col: str,
               window: int = 8, hash_mode: str = "xxhash64",
               min_span_tokens: int = None) -> DataFrame:
    """Remove token spans duplicated ACROSS the corpus — the
    exact-substring dedup role (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better"), realised as fixed-width token
    windows instead of suffix arrays: every ``window``-gram (matched on
    LOWERCASED tokens, like every dedup operator here) that appears more
    than once corpus-wide keeps only its globally-first occurrence
    (min (doc_id, position)); every other occurrence's token span is
    removed, overlapping removals unioned per document.

    Single-pass semantics (like the paper): spans are judged against the
    ORIGINAL text — removals do not cascade into new adjacencies.
    Output text is token-canonical in WHITESPACE only (surviving tokens
    joined by single spaces, ORIGINAL CASE preserved — matching is
    case-insensitive, rebuilding is not destructive); documents shorter
    than ``window`` tokens pass through unchanged.

    Spark shape (the line_dedup discipline at token granularity):

    * grams are hashed BEFORE the shuffle — only (key, doc_id, pos)
      short rows move, never text.  Production keys are a dual-seed
      ``xxhash64`` struct (128 effective bits): this operator DESTROYS
      data on key equality, and a single 64-bit key at 10^12+ distinct
      grams expects thousands of birthday collisions (the line_dedup
      argument, verbatim).  ``hash_mode="gram"`` shuffles the gram
      string itself, which the ANSI-SQL oracle replays exactly.
    * first-occurrence election is one ``groupBy(key)`` with a
      ``min(struct(doc_id, pos))`` — map-side combined, no window
      function over the corpus.
    * duplicate spans explode into covered token positions (ints, ≤
      ``window`` per duplicate) that return to their documents as ONE
      collect_set join; the rebuild looks each token index up in a
      per-row hash map materialized as a COLUMN (an exists/contains
      over the removal list inside the filter lambda would be
      O(tokens × removals) per boilerplate-heavy doc, and an inline map
      expression would be re-built per element by Catalyst's lambda
      inlining — the line_dedup lessons, verbatim).

    ``min_span_tokens`` (default: off) is the Lee-et-al. maximal-span
    guard: fixed windows alone remove every duplicated ``window``-gram,
    over-deleting common idioms; with the guard, positions are removed
    only where ≥ ``min_span_tokens - window + 1`` CONSECUTIVE duplicated
    windows stack up — i.e. the duplicated region is at least
    ``min_span_tokens`` tokens long (the paper uses 50).  Pure
    post-processing on the per-document duplicate-start array
    (gaps-and-islands fold inside the same aggregate projection); the
    shuffle shape is unchanged.

    Returns ``(id, clean_text, n_tokens, n_removed)``.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if min_span_tokens is not None and min_span_tokens < window:
        raise ValueError(
            f"min_span_tokens ({min_span_tokens}) must be >= window "
            f"({window}) — a duplicated window already spans that many")
    # gram matching tokenizes LOWERCASED text (tokens_expr via
    # shingles_expr); the rebuild tokenizes the ORIGINAL text with the
    # same \S+ boundaries — lowercasing never changes token boundaries,
    # so positions align between the two sides by construction
    toks_lower = tokens_expr(text_col)
    toks_orig = F.regexp_extract_all(F.col(text_col), F.lit(r"(\S+)"), 1)
    base = df.select(F.col(id_col).alias("id"), toks_orig.alias("_toks"))

    grams = shingles_expr(F.col(text_col), n=window)
    if hash_mode == "gram":
        key = lambda g: g  # noqa: E731 - oracle-replayable identity key
    elif hash_mode == "xxhash64":
        key = _line_key_fn(hash_mode)
    else:
        # no other family: a single 32/64-bit slice (md5 mode et al.)
        # would key a DATA-DESTROYING dedup on too few bits — birthday
        # collisions at ~10^5 distinct grams would delete unique spans,
        # the exact failure the docstring's 128-bit argument forbids
        raise ValueError(
            f"span_dedup hash_mode must be 'gram' or 'xxhash64', "
            f"got {hash_mode!r}")
    occs = (df.select(F.col(id_col).alias("id"),
                      F.posexplode(F.when(F.size(toks_lower) >= window,
                                          grams)
                                   .otherwise(F.slice(grams, 1, 0)))
                      .alias("pos", "gram"))
            .select("id", "pos", key(F.col("gram")).alias("_k")))
    # NOTE (r6, measured): pre-partitioning occs on _k so the election
    # and the duplicate join share one exchange (the bm25 pattern) was
    # tried and reverted — it forfeits the election's map-side combine
    # (the full occurrence stream crosses the wire instead of one row
    # per distinct gram per task) and lost to the double-derived narrow
    # explode at both tested sizes.
    first = occs.groupBy("_k").agg(
        F.min(F.struct("id", "pos")).alias("_first"),
        F.count(F.lit(1)).alias("_n"))
    w = F.lit(window)
    # expand duplicate spans into covered positions INSIDE the aggregate
    # projection: the shuffle carries only span starts (not window ×
    # starts), and the expansion is evaluated exactly once per group —
    # downstream references see a cheap attribute, so Catalyst's
    # projection collapsing cannot re-inline the expensive expression
    # into multiple evaluation sites
    if min_span_tokens is None:
        rm_expr = F.array_distinct(F.flatten(F.transform(
            F.collect_list("pos"),
            lambda p: F.sequence(p, p + w - 1))))
    else:
        # maximal-span guard: gaps-and-islands over the SORTED duplicate
        # window starts — consecutive starts (step 1) accumulate into
        # runs struct<s,m>; a run of m windows covers m+window-1 tokens,
        # so only runs with m >= min_span-window+1 expand to removed
        # positions.  All inside the one agg projection (evaluated once);
        # the fold's array-rebuild is O(runs) per element, bounded by
        # tokens-per-document (the line_dedup_within precedent).
        min_run = min_span_tokens - window + 1
        runs = F.aggregate(
            F.array_sort(F.collect_list("pos")),
            F.array().cast("array<struct<s:int,m:int>>"),
            lambda acc, p: F.when(
                (F.size(acc) > 0)
                & (p == F.element_at(acc, -1)["s"]
                   + F.element_at(acc, -1)["m"]),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        (F.element_at(acc, -1)["m"] + 1).alias("m"))))
            ).otherwise(F.concat(acc, F.array(F.struct(
                p.alias("s"), F.lit(1).alias("m"))))))
        # distinct: two qualifying runs with start-gap < window still
        # overlap in covered positions, and the rebuild's map_from_arrays
        # rejects duplicate keys
        rm_expr = F.array_distinct(F.flatten(F.transform(
            F.filter(runs, lambda r: r["m"] >= F.lit(min_run)),
            lambda r: F.sequence(r["s"], r["s"] + r["m"] + w - 2))))
    dups = (occs.join(first.filter(F.col("_n") > 1), "_k")
            .filter((F.col("id") != F.col("_first.id"))
                    | (F.col("pos") != F.col("_first.pos")))
            .groupBy("id")
            .agg(rm_expr.alias("_rm_pos")))

    rm = F.coalesce(F.col("_rm_pos"), F.array().cast("array<int>"))
    out = (base.join(dups, "id", "left")
           .withColumn("_rm_map", F.map_from_arrays(
               rm, F.transform(rm, lambda _: F.lit(True)))))
    n = F.size("_toks")
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: F.try_element_at(F.col("_rm_map"), i).isNull())
    return (out.select(
        "id",
        F.when(F.col("_toks").isNull(), F.lit(None).cast("string"))
        .otherwise(F.array_join(kept, " ")).alias("clean_text"),
        F.coalesce(n, F.lit(0)).alias("n_tokens"),
        (F.coalesce(n, F.lit(0)) - F.coalesce(F.size(kept), F.lit(0)))
        .alias("n_removed")))


def dedup_keep_best(df: DataFrame, text_col: str, id_col: str,
                    score: Column) -> DataFrame:
    """Exact dedup with QUALITY-AWARE survivor election: within each
    normalized-text fingerprint group keep the row maximizing ``score``
    (ties: smallest id) — "keep the best copy", vs :func:`dedup_exact`'s
    min-id policy.  The survivor choice matters in practice: duplicate
    crawls differ in truncation and boilerplate, and min-id keeps
    whichever was crawled first, not whichever is most complete.

    One shuffle on the fingerprint; the election is a
    ``min(struct(score_null_flag, reversed_score, id))`` inside the
    aggregate (map-side partial) — max score wins, NULL scores lose to
    scored rows, ties keep the smallest id — then a left-semi join back
    on (fingerprint, id), no window over text-carrying rows.  The score
    is reversed with ``bitwise_not`` (``-x - 1``) for integral types:
    ``-x`` overflows on the type's minimum (``-2^63`` for a long), which
    ANSI mode rejects.  Fractional and decimal scores are negated (their
    ranges are symmetric).  A NaN score loses to every number but beats
    NULL: ``{NaN, 0.5}`` keeps 0.5, ``{NaN, NULL}`` keeps NaN.  The id
    rides the election struct UNTRANSFORMED, so any orderable id type
    works (a string id under the previous ``-id`` negation cast to NULL
    and silently emptied the result — ADVICE r5).  ``score`` must be
    numeric.  Returns the surviving rows plus ``dup_count``.
    """
    from ..functions.text import fingerprint_expr

    keyed = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_text"),
        score.alias("_score"),
        fingerprint_expr(text_col).alias("_fp"))
    integral = isinstance(keyed.schema["_score"].dataType, IntegralType)
    best = (keyed.groupBy("_fp")
            .agg(F.min(F.struct(
                F.col("_score").isNull().cast("int").alias("nf"),
                F.coalesce(F.bitwise_not("_score") if integral
                           else -F.col("_score"), F.lit(0)).alias("ns"),
                F.col("id").alias("id"))).alias("_b"),
                 F.count(F.lit(1)).alias("dup_count"))
            .select("_fp", F.col("_b.id").alias("id"), "dup_count"))
    return (keyed.join(best, ["_fp", "id"])
            .select("id", F.col("_text").alias("text"),
                    F.col("_score").alias("score"), "dup_count"))
