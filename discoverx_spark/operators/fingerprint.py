"""Document fingerprinting by winnowing (Schleimer, Wilkerson & Aiken,
SIGMOD 2003 — the MOSS algorithm).

Reference context: discoverx fingerprints content only at whole-value
granularity (rule regexes, ``scanner.py:310-313``); a training-data
pipeline also needs *local* fingerprints that survive insertions and
deletions — the winnowing guarantee: any shared substring of at least
``window + k - 1`` tokens between two documents yields at least one
shared selected fingerprint, while the expected density of selected
fingerprints is only ``2 / (window + 1)``.

Plan shape (the one that scales):

* token k-grams are built as a pure projection (``shingles_expr`` — the
  zip-with formulation; never per-element ``element_at`` lambdas, see
  the Catalyst-inlining notes on that function);
* each gram hashes to a long BEFORE the explode feeds any exchange, so
  the per-document window shuffle carries ``(id, pos, long)`` rows only
  — gram text never rides a shuffle;
* window minima use a packed ``(hash, position)`` key so the sliding
  ``min`` is a plain long comparison: ``key = h * 2^21 + (2^21-1-pos)``
  — minimal hash wins, ties go to the RIGHTMOST position (the paper's
  robust-winnowing tie rule).  The packing bounds ``h < 2^32`` (md5
  slice mode) and ``pos < 2^21`` (2M tokens per document); xxhash64
  mode switches to a struct key with no such bounds;
* the per-document sliding window is a ``rowsBetween`` frame over the
  ``id`` partition — one shuffle keyed by document id, short rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import _hash_fn, shingles_expr

_POS_BITS = 21
_POS_CAP = (1 << _POS_BITS) - 1


def _cap_hot_hashes(fps: DataFrame, max_hash_freq: int) -> DataFrame:
    """Drop fingerprint hashes present in more than ``max_hash_freq``
    rows (boilerplate grams) with a WINDOW count over the fp_hash
    partition — O(1) per-row state, and the exchange is the same
    partitioning the downstream hash join needs."""
    w = Window.partitionBy("fp_hash")
    return (fps.withColumn("_docs", F.count(F.lit(1)).over(w))
            .filter(F.col("_docs") <= max_hash_freq)
            .drop("_docs"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    window: int = 4,
    hash_mode: str = "md5",
    positions: bool = True,
) -> DataFrame:
    """Selected winnowing fingerprints per document:
    ``(id, fp_pos, fp_hash)``, distinct.

    ``k`` is the token-gram length, ``window`` the winnowing window (in
    grams).  Documents with fewer than ``k`` tokens have no k-grams and
    emit NOTHING; documents with at least ``k`` but fewer than
    ``k + window - 1`` tokens still emit fingerprints for the grams they
    do have (the standard "short document" degenerate case: complete
    windows are kept when they exist; a document shorter than one full
    window selects the single minimum over all its grams via the
    position-0 truncated window).
    """
    if hash_mode not in ("md5", "xxhash64"):
        raise ValueError(f"hash_mode must be 'md5' or 'xxhash64', "
                         f"got {hash_mode!r}")
    from .dedup import tokens_expr

    h = _hash_fn(hash_mode, 0)
    grams = shingles_expr(F.col(text_col), n=k)
    # shingles_expr falls back to one whole-text gram for documents with
    # fewer than k tokens; a 1-token (or empty) document has no k-grams
    # and must emit NOTHING — otherwise every short/empty document
    # fingerprints its (often identical) remnant text and floods the
    # overlap report with bogus pairs
    base = (df.filter(F.size(tokens_expr(F.col(text_col))) >= k)
            .select(F.col(id_col).alias("id"), grams.alias("_grams")))
    occs = (base
            .select("id", F.size("_grams").alias("_n"),
                    F.posexplode("_grams").alias("pos", "gram"))
            .select("id", "_n", "pos", h(F.col("gram")).alias("_h")))
    if hash_mode == "md5":
        # md5 slice is a 32-bit non-negative value: pack (hash asc,
        # pos desc) into one long so the sliding min is scalar.  The
        # packing is only valid for pos < 2^21 (2M grams per document);
        # past that the subtraction would borrow into the hash bits and
        # SILENTLY corrupt the ordering — fail the task loudly instead
        # (xxhash64 mode's struct key has no position bound)
        key = (F.col("_h") * (1 << _POS_BITS)
               + (F.lit(_POS_CAP) - F.col("pos")))
        occs = occs.withColumn(
            "_h", F.when(F.col("pos") < _POS_CAP, F.col("_h")).otherwise(
                F.assert_true(F.col("pos") < _POS_CAP,
                              F.lit("winnow md5 mode: document exceeds "
                                    "2^21 grams; use hash_mode='xxhash64'")
                              ).cast("long")))
        fp_hash = F.shiftright(F.col("_sel"), _POS_BITS)
        fp_pos = F.lit(_POS_CAP) - (F.col("_sel") % (1 << _POS_BITS))
    else:
        # xxhash64: signed 64-bit — struct key, same ordering semantics
        key = F.struct(F.col("_h").alias("h"), (-F.col("pos")).alias("np"))
        fp_hash = F.col("_sel.h")
        fp_pos = -F.col("_sel.np")
    w = (Window.partitionBy("id").orderBy("pos")
         .rowsBetween(Window.currentRow, window - 1))
    sel = occs.select("id", "_n", "pos", F.min(key).over(w).alias("_sel"))
    # complete windows only; a document shorter than one window
    # keeps its position-0 truncated window, so every document with
    # >= 1 gram selects >= 1 fingerprint
    full = sel.filter((F.col("pos") <= F.col("_n") - window)
                      | ((F.col("_n") < window) & (F.col("pos") == 0)))
    if not positions:
        return full.select("id", fp_hash.alias("fp_hash")).distinct()
    return (full.select("id", fp_pos.cast("int").alias("fp_pos"),
                        fp_hash.alias("fp_hash"))
            .distinct())


def _shared_counts(pairs: DataFrame, id_a: str, id_b: str,
                   min_shared: int) -> DataFrame:
    """``(id_a, id_b, shared_fps)``: how many fingerprint-hash matches
    each pair has, kept when at least ``min_shared``."""
    return (pairs.groupBy(id_a, id_b)
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .filter(F.col("shared_fps") >= min_shared))


def fingerprint_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_hash_freq: int = 256,
    hash_mode: str = "md5",
) -> DataFrame:
    """MOSS-style similarity report: document pairs sharing at least
    ``min_shared`` winnowed fingerprint hashes, with the shared count.

    Fingerprint hashes occurring in more than ``max_hash_freq`` distinct
    documents are dropped before pairing (boilerplate grams — the same
    hot-bucket cap every banded candidate generator in this repo
    applies, bounding the per-hash pair fan-out at ``max_hash_freq²``).
    The cap is computed with a WINDOW count over the fp_hash partition,
    not a groupBy + join back — the ``_bucket_pairs`` lesson: a separate
    aggregate would re-derive the whole winnowing subplan per reference,
    and the window's exchange on fp_hash is the same partitioning the
    self-join needs, so AQE reuses it.  Per-row window state is O(1)
    (no per-bucket set materializes), so a boilerplate hash shared by
    10⁸ documents costs nothing but its (discarded) rows."""
    fps = winnow_fingerprints(df, text_col, id_col, k=k, window=window,
                              hash_mode=hash_mode, positions=False)
    # lazy checkpoint: the self-join references `kept` twice — without
    # the lineage cut each side re-derives the whole winnowing subplan
    # (window + distinct), doubling the operator's cost
    kept = _cap_hot_hashes(fps, max_hash_freq).localCheckpoint(eager=False)
    a = kept.select(F.col("fp_hash"), F.col("id").alias("id_a"))
    b = kept.select(F.col("fp_hash"), F.col("id").alias("id_b"))
    return _shared_counts(a.join(b, "fp_hash")
                          .filter(F.col("id_a") < F.col("id_b")),
                          "id_a", "id_b", min_shared)


def incremental_fingerprint_overlap(
    batch: DataFrame,
    index_fps: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_hash_freq: int = 256,
    hash_mode: str = "md5",
) -> DataFrame:
    """Incremental MOSS probe: winnow the NEW batch and report
    ``(batch_id, index_id, shared_fps)`` pairs against a persisted
    fingerprint index ``(id, fp_hash)`` — the winnowing member of the
    incremental family (exact / LSH / line / fingerprint).  The index
    never self-joins (index×index is never formed); index maintenance is
    append-only: union the surviving batch's ``winnow_fingerprints(...,
    positions=False)`` output into the index.

    Hot hashes are capped PER SIDE with window counts (each reusing its
    side's hash partitioning), so a boilerplate gram that accumulated in
    the index cannot fan a batch row out into millions of pairs."""
    bf = winnow_fingerprints(batch, text_col, id_col, k=k, window=window,
                             hash_mode=hash_mode, positions=False)
    b = _cap_hot_hashes(bf, max_hash_freq) \
        .select("fp_hash", F.col("id").alias("batch_id"))
    i = _cap_hot_hashes(index_fps.select("id", "fp_hash").distinct(),
                        max_hash_freq) \
        .select("fp_hash", F.col("id").alias("index_id"))
    return _shared_counts(b.join(i, "fp_hash"), "batch_id", "index_id",
                          min_shared)
