"""Streaming dedup — the Structured Streaming sibling of the batch dedup
tier (operators/dedup.py exact_dedup / windows.py dedup-keep-last).

Two shapes, both state-bounded by a watermark (the property that keeps a
100 TB/day stream's dedup state finite):

- **Exact arrival dedup** (``streaming_exact_dedup``):
  ``dropDuplicatesWithinWatermark`` keeps the FIRST arrival per key and
  drops any duplicate that arrives within the watermark delay of it. This
  is the ingestion-time contract a training-data firehose needs (at-least-
  once upstream delivery → exactly-once content downstream); duplicates
  separated by more than the watermark are the batch tier's job (the
  nightly exact_dedup pass over the at-rest table), which is the standard
  lambda split for dedup state that cannot live in memory forever.

- **Keep-last snapshot** (``kpis.latest_per_key``): update-mode stateful
  op already in the tier (W6/P12 analogue).

The fingerprint column uses the SAME md5 normalization as the batch
``text.fingerprint`` operator, so a row deduped in-stream hashes identically
to one deduped at rest — stream and batch agree on what "duplicate" means.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from network_iq_spark.operators import dedup as D


def with_content_fingerprint(df: DataFrame) -> DataFrame:
    """``fingerprint``: md5 over whitespace-normalized lowercase ``text`` —
    identical to the batch ``operators.text.fingerprint`` key, usable on a
    stream (pure map, no state)."""
    from network_iq_spark.operators.text import WS_RE

    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), WS_RE, " ")
    return df.withColumn("fingerprint", F.md5(norm))


def streaming_exact_dedup(
    stream: DataFrame,
    keys: Sequence[str],
    event_time_col: str,
) -> DataFrame:
    """First-arrival-wins exact dedup over a stream.

    ``dropDuplicatesWithinWatermark`` stores one state row per key seen
    within the 2 h watermark horizon and emits only the first arrival; state
    for a key is evicted once the watermark passes its event time, so
    memory is O(keys per watermark window), not O(stream history).
    """
    return stream.withWatermark(
        event_time_col, "2 hours"
    ).dropDuplicatesWithinWatermark(list(keys))


def read_if_exists(spark, path: str) -> DataFrame | None:
    """Read a parquet path, or None if it does not exist yet.

    Distinguishes "not written yet" (first batch — legitimate None) from
    a genuine read failure: a transient storage/permission error
    swallowed here would silently disable the stage that needed the data
    (e.g. admit duplicates permanently in the near-dup sink), so only
    path-absence maps to None. Existence is probed through the Hadoop
    FileSystem API (the sink.py idiom — correct on hdfs:// and s3a://
    where a driver-local os.path check is not); read errors on an
    EXISTING path propagate, failing the micro-batch so the engine
    retries it.
    """
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not bool(fs.exists(p)):
        return None
    return spark.read.parquet(path)


def write_batch_partition(
    df: DataFrame, path: str, batch_id: int, col: str = "batch"
) -> None:
    """Exactly-once micro-batch append: write DIRECTLY to the
    ``<col>=<id>`` partition directory with overwrite, so a replayed
    batch truncates-and-rewrites its own partition (the streaming/sink.py
    discipline, without a key-merge). The direct-path form (vs dynamic
    partition overwrite of the root) matters in one replay corner: a
    replay whose recomputed frame is EMPTY still rewrites the directory —
    dynamic overwrite of an empty frame touches no partitions and would
    leave the original rows standing. The ``col`` column comes back at
    read time from partition discovery over the directory name."""
    df.write.mode("overwrite").parquet(f"{path}/{col}={batch_id}")


def read_history(spark, path: str, batch_id: int) -> DataFrame | None:
    """The artifact under ``path`` as of batches STRICTLY before
    ``batch_id`` (None before its first write): a replay must see the
    snapshot its first run saw, not its own at-rest rows, which would
    self-match and empty the survivor set — or, for a search, change the
    neighbors, breaking exactly-once though the writes are idempotent."""
    df = read_if_exists(spark, path)
    return None if df is None else df.filter(F.col("batch") < batch_id).drop("batch")


def _admission_sink(corpus_path, index_paths, key_cols, carry_cols, rejected, index):
    """The ``foreachBatch`` body every admission sink below shares.

    Per micro-batch: select ``key_cols`` (id first) plus ``carry_cols``,
    which ride along into the corpus rows (url, crawl metadata) and touch
    neither the dedup keys nor the index. Read each artifact in
    ``index_paths`` through :func:`read_history`. Once every artifact
    exists, drop the ids ``rejected(keys, *history)`` returns; the first
    batch has no history and admits every row. Persist the survivors (one
    evaluation for every write), write them to the corpus and each frame
    of ``index(survivor keys)`` to its index path, and unpersist them on
    the way out, whether or not the writes succeeded.

    Exactly-once effect: every output overwrites its own ``batch=<id>``
    partition (:func:`write_batch_partition`), so a replayed micro-batch
    rewrites its partitions instead of appending twice — a corrected
    replay included, and an all-duplicate one empties them — and the
    strictly-earlier history makes it decide as its first run did.

    The release unpersists the sink's own frame and nothing else, never a
    diff of the context's persisted RDDs: two streams in one session run
    ``foreachBatch`` concurrently, and a diff would drop a sibling
    stream's live storage.
    """
    id_col = key_cols[0]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(*key_cols, *carry_cols)
        history = [read_history(spark, p, batch_id) for p in index_paths]
        survivors = batch
        if all(h is not None for h in history):
            dup_ids = rejected(batch.select(*key_cols), *history).toDF(id_col)
            survivors = batch.join(dup_ids.distinct(), id_col, "left_anti")
        survivors = survivors.persist()
        try:
            write_batch_partition(survivors, corpus_path, batch_id)
            for df, path in zip(index(survivors.select(*key_cols)), index_paths):
                write_batch_partition(df, path, batch_id)
        finally:
            survivors.unpersist()

    return sink


def incremental_near_dup_sink(
    corpus_path: str,
    bands_path: str,
    sets_path: str,
    threshold: float = 0.6,
    carry_cols: Sequence[str] = (),
):
    """``foreachBatch`` sink closing the continual-ingest dedup loop AS A
    STREAM: each micro-batch is near-dup-checked against the AT-REST
    MinHash-LSH index (operators/dedup.py ``incremental_near_dup`` —
    O(batch × collision rate), never O(history)); survivors append to the
    corpus and their band/set rows append to the index, so the next batch
    sees them. Batches carry ``doc_id`` and ``text``.

    This is the scale-correct home for UNBOUNDED dedup state: the
    watermark-bounded ``streaming_exact_dedup`` keeps state in executor
    memory and must forget beyond the horizon, while here the "state" is
    the parquet index itself — unbounded history at parquet cost, shared
    with the batch tier (same artifacts ``lsh_index`` builds offline).
    """

    def rejected(batch, bands, sets):
        return D.incremental_near_dup(batch, bands, sets, threshold).select(
            "new_doc"
        )

    return _admission_sink(
        corpus_path, (bands_path, sets_path), ("doc_id", "text"), carry_cols,
        rejected, D.lsh_index,
    )


def incremental_media_dedup_sink(
    corpus_path: str,
    index_path: str,
    hash_col: str,
    max_hamming: int,
    n_bits: int,
):
    """``foreachBatch`` sink closing the continual-ingest MEDIA dedup
    loop — the perceptual-hash sibling of :func:`incremental_near_dup_sink`:
    each micro-batch (already fingerprinted by a pure-map
    ``image_dhash`` / ``waveform_dhash`` / ``video_dhash`` select
    upstream — all three are stream-safe expressions) is checked against
    the AT-REST segment index (operators/dedup.py
    ``incremental_hamming_dedup`` — O(batch × collision rate), never
    O(history)); survivors append to the corpus and their segment rows
    (``hamming_index``) append to the index, so the next batch sees
    them.

    One sink serves all modalities — the index schema is
    (media_id, hash, seg, seg_val) regardless of whether the fingerprint came
    from pixels, PCM, or frames; a deployment runs one sink per modality
    stream against per-modality paths.
    """

    def rejected(batch, index):
        return D.incremental_hamming_dedup(
            batch, index, hash_col, max_hamming, n_bits
        ).select("new_id")

    def index(keys):
        return (D.hamming_index(keys, hash_col, max_hamming, n_bits),)

    return _admission_sink(
        corpus_path, (index_path,), ("media_id", hash_col), (), rejected, index
    )


def incremental_crop_dedup_sink(corpus_path: str, toks_path: str, grids_path: str):
    """``foreachBatch`` sink closing the continual-ingest CROP-tolerant
    dedup loop (r11) — the crop tier's sibling of
    :func:`incremental_media_dedup_sink`: each micro-batch of (media_id,
    w, h, px) grids probes the AT-REST sub-block token index
    (operators/dedup.py ``incremental_cropped_dedup`` at its defaults —
    pigeonhole recall 1.0 for ≤2-pixel crops, exact SSD verify,
    O(batch × collision), never O(history)); a batch grid that is a crop
    of ANY at-rest grid (or vice versa — the 2-D lag scan is symmetric
    in sign) is dropped, survivors append to the corpus and their token
    + grid rows append to the index, so the next batch sees them. The
    sink serves single-frame grids; the VIDEO crop cell (``frames`` > 1
    in ``incremental_cropped_dedup``) writes format-identical artifacts,
    since crop_index tokens are frame-0-bounded by construction — only
    its verify widens to sum SSD across every plane."""

    def rejected(batch, toks, grids):
        return D.incremental_cropped_dedup(batch, toks, grids).select("new_id")

    return _admission_sink(
        corpus_path, (toks_path, grids_path), ("media_id", "w", "h", "px"), (),
        rejected, D.crop_index,
    )


def incremental_trim_dedup_sink(corpus_path: str, toks_path: str, seqs_path: str):
    """``foreachBatch`` sink closing the continual-ingest TRIM-tolerant
    dedup loop (r13) — the audio-trim cell's sibling of
    :func:`incremental_crop_dedup_sink`, landing the same round as the
    tier itself: each micro-batch of (media_id, s) clips probes the
    AT-REST head-window token + sequence index (operators/dedup.py
    ``incremental_trimmed_dedup`` at its defaults — pigeonhole recall
    1.0 for trims ≤ 2 samples per side, 16-sample anchors, exact verify,
    O(batch × collision), never O(history)); a batch clip that is a
    trim of ANY at-rest clip or the untrimmed original of an at-rest
    trim is dropped (first-arrival-wins), survivors append to the
    corpus and their token + sequence rows append to the index, so the
    next batch sees them. The sink serves audio (units = samples); the
    VIDEO temporal-trim cell is ``stride`` > 1 (units = frames) in the
    operators."""

    def rejected(batch, toks, seqs):
        return D.incremental_trimmed_dedup(batch, toks, seqs).select("new_id")

    return _admission_sink(
        corpus_path, (toks_path, seqs_path), ("media_id", "s"), (),
        rejected, D.trim_index,
    )


def incremental_resample_dedup_sink(corpus_path: str, index_path: str):
    """``foreachBatch`` sink closing the continual-ingest RESAMPLE-
    derivative dedup loop (r13, VERDICT item 7) — the scale-axis
    sibling of :func:`incremental_crop_dedup_sink`, completing sink
    coverage of the transform matrix: each micro-batch of (media_id, s)
    clips probes the AT-REST key index (operators/dedup.py
    ``incremental_resampled_dedup`` at its defaults — two exact
    equi-joins, O(batch × collision), never O(history)); a batch clip
    that is the 2× decimation of an at-rest clip OR the full-rate
    original of an at-rest decimation is dropped (first-arrival-wins,
    the family's admission contract — a keep-best policy that prefers
    the full-rate side is the graph tier's job, not the sink's),
    survivors append to the corpus and their (own_key, derived_key)
    rows (``resample_index``) append to the index, so the next batch
    sees them. The sink serves audio; the VIDEO frame-rate cell is
    ``stride`` > 1 in the operators, with format-identical artifacts."""

    def rejected(batch, index):
        return D.incremental_resampled_dedup(batch, index).select("new_id")

    return _admission_sink(
        corpus_path, (index_path,), ("media_id", "s"), (),
        rejected, lambda s: (D.resample_index(s),),
    )


def chunk_admission_sink(
    corpus_path: str,
    bands_path: str,
    sets_path: str,
    max_dup_ppm: int = 200_000,
):
    """``foreachBatch`` sink running the CHUNK-OVERLAP ADMISSION rule as
    a stream (the streaming form of the ``chunk_overlap_admission``
    sheet query, with its 16×1 LSH bands and 0.5 Jaccard threshold):
    each micro-batch of documents is exploded into
    20-token chunks (``_fragments.chunk_docs`` — pure map, stream-safe),
    the chunks probe the AT-REST chunk LSH index, and a document is
    admitted while at most ``max_dup_ppm``/1e6 of its chunks near-match
    history — the RefinedWeb admission decision at ingest time, catching
    mostly-boilerplate pages that doc-grain near-dup dilutes below
    threshold. Admitted documents append to the corpus and their CHUNK
    index rows append to the index, so the next batch sees them.

    The admission bit is integer arithmetic (1e6·dups ≤ ppm·n_chunks),
    so a replayed batch decides identically. Only a document with a
    near-matching chunk can be rejected: one whose text yields no
    [a-z0-9]+ tokens has zero chunks, none of them duplicates, and is
    admitted (r10 ADVICE).
    """

    from network_iq_spark.queries._fragments import (
        _CHUNK_ID_BASE,
        _MH_BANDS,
        _MH_ROWS,
        chunk_docs,
    )

    lsh = dict(n_bands=_MH_BANDS, rows_per_band=_MH_ROWS)

    def doc_of(chunk_col):
        return F.expr(f"{chunk_col} div {_CHUNK_ID_BASE}").alias("doc_id")

    def rejected(batch, bands, sets):
        chunks = chunk_docs(batch)
        n_chunks = chunks.groupBy(doc_of("doc_id")).agg(F.count("*").alias("__n__"))
        dups = (
            D.incremental_near_dup(chunks, bands, sets, 0.5, **lsh)
            .groupBy(doc_of("new_doc"))
            .agg(F.countDistinct("new_doc").alias("__d__"))
        )
        return (
            dups.join(n_chunks, "doc_id")
            .filter(1_000_000 * F.col("__d__") > max_dup_ppm * F.col("__n__"))
            .select("doc_id")
        )

    return _admission_sink(
        corpus_path, (bands_path, sets_path), ("doc_id", "text"), (),
        rejected, lambda s: D.lsh_index(chunk_docs(s), **lsh),
    )


def incremental_landmark_dedup_sink(corpus_path: str, index_path: str):
    """``foreachBatch`` sink closing the continual-ingest LANDMARK
    dedup loop (r14) — the composed-transform sibling of
    :func:`incremental_trim_dedup_sink`, landing the same round as the
    tier itself so the landmark family ships with the full
    pairs/probe/sink symmetry every exact tier carries: each
    micro-batch of (media_id, s) clips probes the AT-REST landmark index
    (operators/dedup.py ``incremental_landmark_probe`` — the index row
    stores signal + fingerprints together, so the gain-robust verify
    needs no second corpus read; O(batch) extraction, O(batch ×
    collision) vote work, never O(history)); a batch clip that
    landmark-matches ANY at-rest clip (a trim∘gain∘noise or shift∘gain
    re-upload) is dropped (first-arrival-wins), survivors append to the
    corpus and their ``landmark_index`` rows append to the index, so
    the next batch sees them. The family's measured-recall
    contract carries over verbatim: a missed near-dup is admitted (the
    S-curve tiers' documented failure direction), never a false
    drop — precision is the verify's, which the soak pins at 0 FP. The
    probe keeps the family's defaults (2 votes, corr² ≥ 0.995, 8
    overlapping samples) and caps each landmark bucket at 256 rows."""

    def rejected(batch, index):
        return D.incremental_landmark_probe(batch, index).select("new_id")

    return _admission_sink(
        corpus_path, (index_path,), ("media_id", "s"), (),
        rejected, lambda s: (D.landmark_index(s),),
    )
