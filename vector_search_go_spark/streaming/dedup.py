"""Streaming MinHash near-dup detection: an ingestion-time dedup gate.

Net-new surface (the reference has no streaming). The batch MinHash
query (queries_text.dedup_minhash_lsh) answers "which pairs in the
corpus are near-dups"; an ingestion pipeline needs the online version:
"is THIS arriving document a near-dup of anything already accepted".

Shape: stream (doc_id, text) -> the SAME deterministic shingle +
minhash + band projection as batch (shared minhash_band_keys, so band
keys are byte-identical) -> stateful band-claim keyed by (band,
band_key) via applyInPandasWithState. The first document to present a
band key claims it (state = owner doc id, a few bytes per key); every
later document hitting a claimed key emits a (owner, doc) duplicate
hit. State is O(distinct band keys), not O(documents x bands), and the
per-key group never materializes the corpus — the scale ceiling is the
state store, the same ceiling Structured Streaming dropDuplicates has.

Equivalence to batch (asserted in tests/test_streaming_dedup.py): with
documents arriving in doc_id order, the flagged set is exactly
{doc_b | some batch pair (doc_a < doc_b)} and each flagged doc's
earliest owner equals the batch min doc_a — because a band's first
presenter IS its min-id member.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from vector_search_go_spark.functions.metrics import seq_dists
from vector_search_go_spark.queries_text import _shingles_col, minhash_band_keys

DOC_SCHEMA = "doc_id bigint, text string"

_HIT_SCHEMA = T.StructType(
    [
        T.StructField("band", T.IntegerType()),
        T.StructField("band_key", T.StringType()),
        T.StructField("owner_doc_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
    ]
)


def stream_band_keys(doc_stream: DataFrame) -> DataFrame:
    """(doc_id, text) stream -> (doc_id, band, band_key) stream, the
    batch signature projection lifted onto the stream (pure narrow
    ops — no state, no shuffle until the band-claim groupBy)."""
    w = F.split(F.col("text"), " ")
    shingled = (
        doc_stream.withColumn("w", w)
        .filter(F.size("w") >= 3)
        .select("doc_id", _shingles_col(F.col("w")).alias("shingles"))
    )
    return minhash_band_keys(shingled)


def _claim_band(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """State per (band, band_key): the owning doc id. Within a
    micro-batch the min doc_id wins (chunks are gathered before
    sorting — Arrow chunk order is not guaranteed); across batches the
    recorded owner persists, which is arrival-order semantics."""
    band, band_key = key
    doc_ids: list[int] = []
    for pdf in pdfs:
        doc_ids.extend(int(d) for d in pdf["doc_id"])
    doc_ids.sort()
    if state.exists:
        (owner,) = state.get
    else:
        owner = doc_ids[0]
        state.update((owner,))
    hits = [(band, band_key, owner, d) for d in doc_ids if d != owner]
    yield pd.DataFrame(hits, columns=["band", "band_key", "owner_doc_id", "doc_id"])


def stream_duplicate_hits(doc_stream: DataFrame) -> DataFrame:
    """Streaming (band, band_key, owner_doc_id, doc_id) duplicate hits:
    one row per (claimed band x later doc)."""
    return (
        stream_band_keys(doc_stream)
        .groupBy("band", "band_key")
        .applyInPandasWithState(
            _claim_band,
            outputStructType=_HIT_SCHEMA,
            stateStructType="owner long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_dedup_gate(
    spark: SparkSession,
    doc_stream: DataFrame,
    hits_path: str,
    checkpoint_path: str,
    timeout: int = 120,
) -> None:
    """Drain the stream (availableNow) appending duplicate hits to
    parquet; the checkpoint carries the band-claim state so successive
    drains keep deduplicating against everything already seen."""
    q = (
        stream_duplicate_hits(doc_stream)
        .writeStream.format("parquet")
        .option("path", hits_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)


def duplicate_verdicts(hits: DataFrame) -> DataFrame:
    """Batch rollup of the hit log: per flagged doc, the earliest owner
    it collided with — 'doc_id is a near-dup of dup_of'."""
    return hits.groupBy("doc_id").agg(F.min("owner_doc_id").alias("dup_of"))


# ---------------------------------------------------------------------------
# Multimodal fingerprint gate (round 8): the online twin of the batch
# banded-Hamming dedup operators (dedup_image_phash /
# dedup_audio_fingerprint / dedup_video_framehash). Unlike the MinHash
# gate above — whose band claim keeps only the first presenter, giving
# arrival-order owner semantics — this gate keeps the full member list
# (id, hash) per band bucket in state and emits every newcomer-vs-member
# pair VERIFIED by exact Hamming distance, so the drained pair set is
# bit-identical to the batch join's output for ANY arrival order. State
# is O(bucket members); a hot bucket is a true duplicate family whose
# pairs ARE the output, the same posture as the batch join (and the
# same scale ceiling as the batch operator's band-group fan-in).
# ---------------------------------------------------------------------------

MEDIA_SCHEMA = "id bigint, media binary, meta struct<mime:string>"

_FP_HIT_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("frame", T.IntegerType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("hamming", T.IntegerType()),
    ]
)


def stream_media_band_keys(
    media_stream: DataFrame,
    n_bands: int = 4,
    band_bits: int = 15,
    n_probes: int = 0,
) -> DataFrame:
    """(id, media, meta) stream -> (id, kind, frame, phash, band, key,
    is_probe): the batch fingerprint + band projection lifted onto the
    stream (one Arrow map stage + narrow ops; no state, no shuffle
    until the band-claim groupBy). Band keys are byte-identical to the
    batch operators' (same shift/mask), so gate hits and batch pairs
    agree.

    ``n_probes`` (round 9, parity with hamming_near_dup_pairs): each
    item ADDITIONALLY emits one probe row per flipped MSB of every band
    key (operators.multimodal.probe_bit_positions — the same bit set as
    the batch join's probe side), flagged ``is_probe``. Probe rows
    route the item into neighboring buckets to be COMPARED against
    members there, but never become members themselves — exactly the
    batch join's one-sided probing, so gate and batch pair sets stay
    identical for any arrival order."""
    from vector_search_go_spark.operators.multimodal import (
        media_fingerprints,
        probe_bit_positions,
    )

    mask = (1 << band_bits) - 1
    keyed = (
        media_fingerprints(media_stream)
        .withColumn(
            "band", F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1)))
        )
        .withColumn(
            "key",
            F.expr(f"shiftright(phash, band * {int(band_bits)}) & {mask}"),
        )
    )
    pos = probe_bit_positions(band_bits, n_probes)
    if not pos:
        return keyed.withColumn("is_probe", F.lit(False))
    variants = ", ".join(
        ["struct(key AS key, false AS is_probe)"]
        + [f"struct(key ^ {1 << p} AS key, true AS is_probe)" for p in pos]
    )
    return (
        keyed.withColumn("pk", F.expr(f"explode(array({variants}))"))
        .drop("key")
        .select("*", "pk.key", "pk.is_probe")
        .drop("pk")
    )


def _make_fp_claim(ttl_ms: int | None):
    """Build the band-bucket claim function with an optional state TTL
    closure-bound (closures ship to executors via cloudpickle; module
    globals would re-resolve to their import-time defaults there)."""

    def _claim_fp_bucket(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        return _claim_fp_bucket_impl(key, pdfs, state, ttl_ms)

    return _claim_fp_bucket


def _claim_fp_bucket_impl(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    ttl_ms: int | None = None,
) -> Iterator[pd.DataFrame]:
    """State per (kind, frame, band, key) bucket: parallel arrays of member
    ids and their full 60-bit fingerprints. Each newcomer (processed in
    id order within the micro-batch — Arrow chunk order is not
    guaranteed) emits one row per existing member with the exact
    Hamming distance; replayed ids (at-least-once delivery) are
    skipped, keeping the pair set exactly-once.

    ``ttl_ms``: processing-time state eviction — an idle bucket is
    dropped after ttl_ms without arrivals, bounding state over an
    infinite stream. Eviction FORGETS members: a duplicate arriving
    after its family's bucket expired is not flagged, the standard
    retention trade (document the TTL as the dedup horizon).
    ttl_ms=None keeps state forever.

    Probe rows (``is_probe``, multiprobe banding): an item probing a
    neighboring bucket is compared against that bucket's members but
    never JOINS them — membership belongs to the exact-key bucket only,
    matching the batch join's one-sided probe (probing members too
    would pair items 2 probed bits apart, a candidate space the batch
    join never explores). Probe hits are not tracked in state, so a
    replayed micro-batch may re-emit a probe hit row — harmless:
    media_pair_verdicts dedups to one row per (pair, kind, frame), the
    same way multi-band collisions are deduped."""
    if state.hasTimedOut:
        state.remove()
        return  # yields nothing: eviction emits no rows
    kind, frame, band, _bucket = key
    arrivals: dict[int, int] = {}
    probes: dict[int, int] = {}
    for pdf in pdfs:
        flags = (
            pdf["is_probe"]
            if "is_probe" in pdf.columns
            else [False] * len(pdf)
        )
        for i, h, p in zip(pdf["id"], pdf["phash"], flags):
            (probes if p else arrivals).setdefault(int(i), int(h))
    if state.exists:
        ids, hashes = state.get
        ids, hashes = list(ids), list(hashes)
    else:
        ids, hashes = [], []
    seen = set(ids)
    rows = []
    # one sorted pass over exact + probe arrivals: same-batch pairs
    # meet exactly once per bucket regardless of which side probed,
    # because the earlier id is a member by the time the later id
    # (exact or probe) is processed
    for i in sorted(set(arrivals) | set(probes)):
        is_probe = i not in arrivals
        if not is_probe and i in seen:
            continue
        h = probes[i] if is_probe else arrivals[i]
        for j, hj in zip(ids, hashes):
            if j == i:
                continue
            a, b = (j, i) if j < i else (i, j)
            rows.append((kind, frame, band, a, b, bin(h ^ hj).count("1")))
        if not is_probe:
            ids.append(i)
            hashes.append(h)
            seen.add(i)
    state.update((ids, hashes))
    if ttl_ms is not None:
        state.setTimeoutDuration(int(ttl_ms))
    if rows:  # most buckets emit nothing — skip the DataFrame build
        yield pd.DataFrame(
            rows, columns=["kind", "frame", "band", "id_a", "id_b", "hamming"]
        )


def stream_media_duplicate_hits(
    media_stream: DataFrame,
    tau: int = 6,
    n_bands: int = 4,
    band_bits: int = 15,
    state_ttl_ms: int | None = None,
    n_probes: int | str = 0,
) -> DataFrame:
    """Streaming (kind, frame, band, id_a, id_b, hamming) near-dup hits over
    a mixed-modality media stream: one row per band bucket a pair
    collides in (dedup across bands at rollup — media_pair_verdicts),
    Hamming-verified in the stateful op, filtered to <= tau here so tau
    is a query knob, not state. ``state_ttl_ms`` bounds state over an
    infinite stream by evicting idle buckets (the dedup horizon);
    None = compare against everything ever seen. ``n_probes`` enables
    multiprobe banding with the same bit set as the batch join
    (hamming_near_dup_pairs; 'auto' resolves by the same pigeonhole
    rule, multimodal.auto_n_probes) — the scale config 2x30 + full
    probing keeps the 4x15 pigeonhole guarantee at ~100x less
    candidate mass."""
    from vector_search_go_spark.operators.multimodal import resolve_n_probes

    n_probes = resolve_n_probes(n_probes, n_bands, band_bits, tau)
    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if state_ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    hits = (
        stream_media_band_keys(media_stream, n_bands, band_bits, n_probes)
        .groupBy("kind", "frame", "band", "key")
        .applyInPandasWithState(
            _make_fp_claim(state_ttl_ms),
            outputStructType=_FP_HIT_SCHEMA,
            stateStructType="ids array<long>, hashes array<long>",
            outputMode="append",
            timeoutConf=timeout_conf,
        )
    )
    return hits.filter(F.col("hamming") <= int(tau))


def run_media_dedup_gate(
    spark: SparkSession,
    media_stream: DataFrame,
    hits_path: str,
    checkpoint_path: str,
    tau: int = 6,
    timeout: int = 120,
    state_ttl_ms: int | None = None,
    n_probes: int = 0,
) -> None:
    """Drain the media stream (availableNow) appending verified
    near-dup hits to parquet; the checkpoint carries the bucket-member
    state so successive drains keep comparing against everything
    already fingerprinted (within state_ttl_ms, if set).

    With a TTL the query does NOT self-terminate: processing-time
    timeouts keep scheduling timer-sweep micro-batches after the data
    is exhausted (observed: 100+ empty batches per availableNow drain),
    so this drain watches progress and stops the query once the SOURCE
    is exhausted — an empty batch alone is not enough (ADVICE r8: a
    source configured with maxFilesPerTrigger could interleave an early
    empty report before later data batches commit), so the stop also
    requires the source's latestOffset to equal its endOffset (nothing
    left to read); when a source doesn't report latestOffset, two
    consecutive empty sweeps with an unmoved endOffset are the
    fallback signal. Expired buckets are evicted in the data batches /
    those sweeps; buckets expiring later are swept at the START of the
    next drain, which is equivalent for dedup semantics (nothing
    arrives in between)."""
    import time as _time

    q = (
        stream_media_duplicate_hits(media_stream, tau=tau,
                                    state_ttl_ms=state_ttl_ms,
                                    n_probes=n_probes)
        .writeStream.format("parquet")
        .option("path", hits_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if state_ttl_ms is None:
        q.awaitTermination(timeout)
        return
    deadline = _time.time() + timeout
    prev_empty = None  # (batchId, endOffsets) of the previous EMPTY report
    while q.isActive and _time.time() < deadline:
        lp = q.lastProgress
        if lp is not None and lp["numInputRows"] == 0:
            srcs = lp.get("sources") or []
            drained = all(
                s.get("latestOffset") is not None
                and s.get("latestOffset") == s.get("endOffset")
                for s in srcs
            ) if srcs else False
            ends = [s.get("endOffset") for s in srcs]
            bid = lp.get("batchId")
            # the fallback needs TWO DISTINCT empty batches (ADVICE r9:
            # one report observed on two 0.25 s polls has the same
            # endOffsets — keying on batchId too keeps a single early
            # empty batch from stopping the gate while data batches are
            # still pending on a latestOffset-less source)
            if drained or (prev_empty is not None
                           and prev_empty[1] == ends
                           and prev_empty[0] != bid):
                break  # source exhausted AND a timer-sweep batch ran
            if prev_empty is None or prev_empty[0] != bid:
                prev_empty = (bid, ends)
        _time.sleep(0.25)
    if q.isActive:
        q.stop()
    q.awaitTermination(timeout)


def media_pair_verdicts(
    hits: DataFrame, min_frames: int | dict[str, int] = 1
) -> DataFrame:
    """Batch rollup of the hit log to clip/item pairs: dedup the
    per-band hits to one row per (pair, kind, frame), then aggregate
    frames — (kind, id_a, id_b, n_frames_near, min_hamming), keeping
    pairs with >= min_frames near frames. With min_frames=1 on
    image/audio hits this is exactly hamming_near_dup_pairs' output;
    with min_frames=2 on video frame hits it is exactly
    video_near_dup_pairs'.

    ``min_frames`` may be a per-kind dict (ADVICE r8) — e.g.
    ``{"video": 2}`` on a MIXED-modality hit log applies the video
    operators' 2-of-3-frames batch semantics to video pairs while
    image/audio pairs keep the default 1 (a single int would let video
    pairs sharing one near frame through, diverging from
    video_near_dup_pairs). Kinds absent from the dict default to 1."""
    per_frame = hits.dropDuplicates(["id_a", "id_b", "kind", "frame"])
    if isinstance(min_frames, dict):
        thresh = F.lit(1)
        for kind, mf in sorted(min_frames.items()):
            thresh = F.when(F.col("kind") == kind, int(mf)).otherwise(thresh)
    else:
        thresh = F.lit(int(min_frames))
    return (
        per_frame.groupBy("kind", "id_a", "id_b")
        .agg(
            F.count("*").cast("int").alias("n_frames_near"),
            F.min("hamming").cast("int").alias("min_hamming"),
        )
        .filter(F.col("n_frames_near") >= thresh)
    )


# ---------------------------------------------------------------------------
# Embedding dedup gate (round 8): the online twin of dedup_embedding_lsh
# (queries_lsh.py) — vectors hash through a FROZEN angular forest, land
# in (tree, hash) buckets, and each newcomer is exact-cosine-verified
# against the bucket's members, the member-list posture of the media
# gate. Completes the gate family: text (MinHash), media (fingerprint),
# vectors (LSH). The frozen-model requirement is the same as streaming
# index ingest (streaming/ingest.py): drift is the maintenance loop's
# job, not the gate's.
# ---------------------------------------------------------------------------

VEC_SCHEMA = "id bigint, vec array<double>"

_VEC_HIT_SCHEMA = T.StructType(
    [
        T.StructField("tree", T.IntegerType()),
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos_dist", T.DoubleType()),
    ]
)


def stream_vector_band_keys(spark, vec_stream: DataFrame, forest) -> DataFrame:
    """(id, vec) stream -> (id, vec, tree, hash): the batch bucket
    projection lifted onto the stream through the broadcast forest
    (lsh.index._hash_probe_udf — the same Arrow kernel batch training
    and search use, so bucket keys are byte-identical to the batch
    store's)."""
    from vector_search_go_spark.lsh.index import _hash_probe_udf

    hv = _hash_probe_udf(spark, forest, with_probes=False)
    return vec_stream.select(
        "id", "vec", F.posexplode(hv("vec")).alias("tree", "hash")
    )


def _make_vec_claim(dims: int):
    """Bucket-claim factory for vector buckets. State per (tree, hash):
    member ids + their vectors packed as one float64 blob (binary packs
    denser through the state store than nested arrays and reshapes for
    free). Each newcomer emits one row per existing member with the
    EXACT cosine distance (functions.metrics.seq_dists, the kernel of
    operators.argmin.pairwise_dist_udf), so gate distances are
    bit-identical to the batch verify stage."""

    def claim(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        tree, _bucket = key
        arrivals: dict[int, np.ndarray] = {}
        for pdf in pdfs:
            for i, v in zip(pdf["id"], pdf["vec"]):
                arrivals.setdefault(int(i), np.asarray(v, dtype=np.float64))
        if state.exists:
            ids, blob = state.get
            ids = list(ids)
            M = np.frombuffer(blob, dtype=np.float64).reshape(-1, dims)
        else:
            ids, M = [], np.zeros((0, dims), dtype=np.float64)
        seen = set(ids)
        rows = []
        for i in sorted(arrivals):
            if i in seen:
                continue
            v = arrivals[i]
            if len(ids):
                for j, cd in zip(ids, seq_dists("cosine", M, v)):
                    a, b = (j, i) if j < i else (i, j)
                    rows.append((tree, a, b, float(cd)))
            ids.append(i)
            M = np.vstack([M, v[None, :]])
            seen.add(i)
        state.update((ids, M.tobytes()))
        if rows:
            yield pd.DataFrame(rows, columns=["tree", "id_a", "id_b", "cos_dist"])

    return claim


def stream_embedding_duplicate_hits(
    spark,
    vec_stream: DataFrame,
    forest,
    dims: int,
    eps: float = 0.6,
) -> DataFrame:
    """Streaming (tree, id_a, id_b, cos_dist) near-dup hits over an
    embedding stream: candidates meet only inside a frozen-forest
    bucket (never all-pairs), exact cosine verified in the stateful op,
    filtered to <= eps here so the threshold is a query knob. Dedup
    across trees at rollup (embedding_pair_verdicts). State is O(bucket
    members x dims x 8 B) — the same sum(bucket^2)-shaped ceiling the
    batch self-join has, and the same hot-bucket caveat (a duplicate
    family's bucket holds the family; its pairs are the output)."""
    hits = (
        stream_vector_band_keys(spark, vec_stream, forest)
        .groupBy("tree", "hash")
        .applyInPandasWithState(
            _make_vec_claim(dims),
            outputStructType=_VEC_HIT_SCHEMA,
            stateStructType="ids array<long>, blob binary",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return hits.filter(F.col("cos_dist") <= float(eps))


def run_embedding_dedup_gate(
    spark: SparkSession,
    vec_stream: DataFrame,
    forest,
    dims: int,
    hits_path: str,
    checkpoint_path: str,
    eps: float = 0.6,
    timeout: int = 120,
) -> None:
    """Drain the embedding stream (availableNow) appending verified
    near-dup hits to parquet; the checkpoint carries bucket-member
    state across drains."""
    q = (
        stream_embedding_duplicate_hits(spark, vec_stream, forest, dims, eps)
        .writeStream.format("parquet")
        .option("path", hits_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)


def embedding_pair_verdicts(hits: DataFrame) -> DataFrame:
    """Batch rollup of the hit log: one row per pair (a pair hitting in
    several trees carries one identical exact distance), matching the
    batch query's (id_a, id_b, cos_dist) output."""
    return (
        hits.groupBy("id_a", "id_b")
        .agg(F.min("cos_dist").alias("cos_dist"))
    )
