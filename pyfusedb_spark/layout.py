"""Bucket-id layout shared by the build, streaming, and query sides.

The ``index/bucket=K`` hive value encodes which tier a posting segment
belongs to, and sorting chunk rows by ``bucket`` must equal sorting by
doc range (query-side concatenation relies on it — operators/query.py
``TermPostings.from_chunks``):

    0 .. n_buckets-1                   base batch-build doc-range buckets
    STREAM_GEN_BUCKET_BASE ..          compacted stream segments (tiered
    STREAM_BATCH_BUCKET_BASE-1         LSM fold of streamed batches); a
                                       segment covering batches [lo..hi]
                                       at level L sits at bucket
                                       ``stream_seg_bucket(lo, L)`` —
                                       lo in the high digits keeps
                                       bucket order == doc order across
                                       levels, the level in the low
                                       digits makes a re-fold of the
                                       same lo land in a FRESH dir (the
                                       old one stays readable until the
                                       stats flip)
    STREAM_BATCH_BUCKET_BASE + b       live (not yet compacted) streamed
                                       micro-batch b

Base docs precede streamed docs, and compacted stream segments precede
the still-live batches (compaction always folds the oldest prefix), so
the numeric order base < segments-by-lo < batches is also doc order.

Visibility contract: a compacted segment dir becomes visible ONLY via
the atomic ``stats.json`` flip (``stream_segments`` + the derived
``folded_upto``) written after the dir is promoted — readers filter with
:func:`visible_bucket_components`, so a crash between promote and flip
leaves an invisible orphan (GC'd on the next writer start), never a
double count.
"""

from __future__ import annotations

from pyfusedb_spark import fsio

STREAM_GEN_BUCKET_BASE = 500_000
STREAM_BATCH_BUCKET_BASE = 1 << 30  # int32-safe; ~10^9 micro-batches
# Max LSM levels (fold factor K per level => level L covers K^(L+1)
# batches; at K=8 level 9 alone spans 8^10 ≈ 10^9 batches — unreachable
# before the batch-id range runs out, so 10 is not a practical cap).
STREAM_MAX_LEVELS = 10


def stream_seg_bucket(lo: int, level: int) -> int:
    """Bucket id for a compacted stream segment whose oldest folded
    batch is ``lo``, at LSM level ``level``."""
    if not (0 <= level < STREAM_MAX_LEVELS):
        raise ValueError(f"level {level} out of range")
    b = STREAM_GEN_BUCKET_BASE + lo * STREAM_MAX_LEVELS + level
    if b >= STREAM_BATCH_BUCKET_BASE:
        raise ValueError(f"segment lo={lo} overflows the bucket range")
    return b


def visible_bucket_components(stats: dict) -> tuple[list[int], int | None] | None:
    """(visible_segment_buckets, folded_upto) for a stats dict, or None
    when no streaming-compaction state exists (no filtering needed).

    A bucket is visible iff it is below STREAM_GEN_BUCKET_BASE (base
    build), OR in visible_segment_buckets, OR a batch bucket newer than
    folded_upto (``bucket > STREAM_BATCH_BUCKET_BASE + folded_upto``).

    Compaction always folds the oldest live prefix, so the folded batch
    set is exactly [0 .. folded_upto] — a RANGE predicate, not a list
    that grows with stream length."""
    segs = stats.get("stream_segments")
    if segs is not None:
        if not segs:
            # a tiered-writer index with no folds YET: still filter —
            # the FIRST fold promotes its segment dir before the stats
            # flip, and an unfiltered reader in that window (or after a
            # crash in it) would double-count the segment against the
            # still-live batch dirs (r5 review finding)
            return [], None
        vis = [int(s["bucket"]) for s in segs]
        folded_upto = max(int(s["hi"]) for s in segs)
        return vis, folded_upto
    if stats.get("stream_gen") is not None or stats.get("folded_batches"):
        # pre-tiered single-generation layout used a different batch
        # bucket base; its dirs cannot be addressed under the current
        # constants. No such index can persist across builds (indexes
        # are derived artifacts), so refuse loudly rather than misread.
        raise ValueError(
            "index uses the pre-tiered streaming layout (stream_gen/"
            "folded_batches); rebuild it with the current writer"
        )
    return None


def lexicon_files(lex_dir: str) -> list[str]:
    """Every parquet file of a lexicon dir, sorted: root files plus one
    level of ``k=v`` subdirs (a base build's ``tpart=P`` slices and the
    streaming LSM ``seg=B`` deltas), staging ``.tmp-`` dirs skipped. Mixed
    depths break Spark's and pyarrow's partition discovery, so readers of
    a segmented lexicon take this list; they sum df/total_tf per term."""
    out = []
    for n in fsio.listdir(lex_dir):
        if n.endswith(".parquet"):
            out.append(fsio.join(lex_dir, n))
        elif "=" in n and ".tmp-" not in n:
            sub = fsio.join(lex_dir, n)
            out.extend(fsio.join(sub, m) for m in fsio.listdir(sub) if m.endswith(".parquet"))
    return sorted(out)
