"""Engine configuration.

Mirrors the reference's ``lsh.Config`` (lsh/lsh.go:59-82, README.md:68-80)
as one immutable dataclass. The reference guards BatchSize/MaxCandidates
reads with an RWMutex (lsh/lsh.go:60-76); immutability makes that concept
disappear (SURVEY.md section 2 O30).
"""

from __future__ import annotations

from dataclasses import dataclass

# Float tolerance used across the engine; reference lsh/helpers.go:13-15.
TOL = 1e-6

# Margin of the one two-stage scorer, functions.metrics.seq_nearest.
# Its BLAS |a|^2 - 2 a.b + |b|^2 and the sequential fold of
# (a_i - b_i)^2 differ by at most ~(4D + 9) * u * scale^2 over D dims
# (u = 2^-53, scale^2 = max |a|^2 + max |b|^2 over the rows that are
# not NaN, whose pairs score NaN and are always kept; near-duplicate
# cancellation is the worst case), so sqrt'd distances differ by at
# most m' = sqrt((4D + 9) * u) * scale (~1.7e-7 * scale at 64-d). The
# L2 margin TWO_STAGE_MARGIN * sqrt(D / 64) * max(1, scale) is >= ~160x
# 2m' at any D; it is applied in the sqrt'd domain for sq_l2 too
# (sqrt is monotone) and squared back, a ~1e-16 relative rounding.
# Cosine carries at most TOL (its clamp) + ~4D * u, inside the margin
# unscaled. Proof: |approx - exact| <= m' and cut = kth_approx + m,
# m >= 2m' => an excluded row has exact > kth_approx + m - m' >=
# exact_kth + (m - 2m'), strictly past the k-th exact distance: no row
# that can rank or tie is dropped. (A norm within rounding of TOL can
# flip cosine's zero-norm rule between the stages; unbounded edge.)
TWO_STAGE_MARGIN = 1e-4

# Pair count (rows of A x rows of B) at or below which seq_nearest
# scores the full sequential mesh: the two stages' fixed cost pays only
# above it. Measured (k=10, one BLAS thread, 4-core x86): one query
# breaks even at ~1024 rows for 16-d (~256 for 64-d); 5-40 queries win
# 1.2-2x from ~500 pairs, 2-5x at 2k-10k; 10k-row argmins win ~1.1x at
# 4-d x 128 codes, 8-14x at 64-d x 350 centroids.
TWO_STAGE_MIN_PAIRS = 1024

# Max tree depth: one bit of the int64 hash per level, sign bit never set.
# Reference guard at lsh/hasher.go:138 (depth <= 63 keeps uint64 safe; with
# int64 we stop at 62 so the sign bit stays clear — SURVEY.md section 1.2).
MAX_DEPTH = 62


@dataclass(frozen=True)
class LshConfig:
    """Config for the Annoy-style LSH index.

    Field parity with reference lsh/lsh.go:59-82:
      n_trees      <- NTrees       (number of random binary trees)
      k_min_vecs   <- KMinVecs     (stop splitting below this many vectors)
      dims         <- Dims         (vector dimensionality; validated eagerly,
                                    unlike the reference which never checks)
      is_angular   <- isAngular    (copied from metric, lsh/lsh.go:96-100)
      max_candidates <- MaxCandidates (perf knob only; our default semantics
                                    are the deterministic global top-k,
                                    SURVEY.md section 3.2)
    BatchSize is gone: Spark partitioning replaces manual goroutine batches
    (lsh/lsh.go:114-131).

    seed: the reference seeds tree build from the wall clock
    (lsh/hasher.go:165) — nondeterminism we deliberately fix.
    sample_size: the reference builds trees on the FULL dataset
    (lsh/lsh.go:111); at 100 TB that is impossible, so trees are built on a
    bounded driver-side sample (SURVEY.md section 7 Phase 3 risk note).
    """

    dims: int
    n_trees: int = 10
    k_min_vecs: int = 50
    is_angular: bool = False
    max_candidates: int | None = None
    seed: int = 42
    sample_size: int = 100_000
    # Hot-bucket bound. k_min_vecs bounds bucket MINIMUM size only: a
    # tree that cannot split (duplicate-heavy / low-entropy data —
    # exactly what a dedup corpus looks like) leaves one giant bucket,
    # and search fan-in for that bucket explodes before any top-k cap
    # applies. The reference bounds this at scan time with
    # MaxCandidates (lsh/lsh.go:143,162) in nondeterministic map
    # order; we bound it at candidate GENERATION with a deterministic
    # id-hash thinning of buckets above this size (lsh/search.py).
    # None = unbounded (the reference's MaxCandidates=inf tuning).
    # The cap applies to PHYSICAL bucket rows: on an uncompacted
    # at-least-once streamed store, replayed duplicate rows count
    # toward it (thinning turns quietly more aggressive than
    # configured) — run compact(dedup=True) before relying on the
    # exact value (lsh/search.py bound_hot_buckets).
    max_bucket_size: int | None = None

    def __post_init__(self) -> None:
        if self.dims <= 0:
            raise ValueError(f"dims must be positive, got {self.dims}")
        if self.n_trees <= 0:
            raise ValueError(f"n_trees must be positive, got {self.n_trees}")
        if self.k_min_vecs < 1:
            raise ValueError(f"k_min_vecs must be >= 1, got {self.k_min_vecs}")
        if self.max_bucket_size is not None and self.max_bucket_size < 1:
            raise ValueError(
                f"max_bucket_size must be >= 1, got {self.max_bucket_size}"
            )
