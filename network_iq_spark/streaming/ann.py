"""Streaming ANN search — the embedding sibling of the continual-ingest
near-dup sink (streaming/dedup.py), completing the incremental symmetry
across both modalities (VERDICT r7 item 7): micro-batches of vectors are
top-k-searched against the AT-REST IVF index through the
``ivf_search(prebuilt=…)`` seam (operators/similarity.py), then join the
index so the next batch sees them.

Scale shape: the coarse centroids are a bounded model artifact built
OFFLINE (the FAISS deployment shape — n_cells rows, broadcast); per batch
the search cost is O(batch × probed fraction) of the corpus, never
O(history), and the only growing state is the parquet corpus + inverted
file — unbounded history at parquet cost, shared with the batch tier
(the same artifacts ``incremental_ann_topk`` reads). Batch-equivalence:
each micro-batch's results are identical to calling the batch
``ivf_search(prebuilt=…)`` on the same history snapshot — tested in
tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from network_iq_spark.streaming.dedup import read_if_exists, write_batch_partition


def incremental_ann_search_sink(
    centroids_path: str,
    corpus_path: str,
    inv_path: str,
    results_path: str,
    nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "v",
):
    """``foreachBatch`` sink: search each micro-batch against the at-rest
    IVF index, record the top-k, and admit the batch into the index.

    - ``centroids_path`` (REQUIRED at stream start): the coarse quantizer
      (c_id, cv, cn), trained offline on a corpus sample — a missing
      quantizer is a deployment error and fails the micro-batch loudly
      (retryable), never a silent empty search.
    - ``corpus_path`` / ``inv_path``: the growing history — vectors
      (id, v, norm) and inverted file (id, cell). Absent on the first
      batch (no history → no matches; the batch still joins the index).
    - ``results_path``: per-batch top-k (q_vec_id, n_vec_id, rank, cos).

    Exactly-once: every output overwrites its own ``batch=<id>``
    directory (``streaming.dedup.write_batch_partition``), so a replayed
    micro-batch rewrites its own partitions (same discipline as the
    near-dup sink).
    """
    from network_iq_spark.operators.similarity import (
        ivf_assign,
        ivf_search,
        with_norm,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cent = read_if_exists(spark, centroids_path)
        if cent is None:
            raise FileNotFoundError(
                f"IVF centroids not found at {centroids_path}: the coarse "
                "quantizer must be trained offline before streaming search"
            )
        batch = with_norm(
            batch_df.select(id_col, F.col(vec_col).alias("v"))
        ).localCheckpoint()  # one evaluation: search + assign + write
        # History is STRICTLY earlier batches: a replayed micro-batch must
        # search the same snapshot it originally saw (batch N's own rows
        # and any later batches already landed are excluded), otherwise a
        # replay returns different neighbors and exactly-once breaks at
        # the RESULT level even though the writes are idempotent.
        corpus = read_if_exists(spark, corpus_path)
        inv = read_if_exists(spark, inv_path)
        if corpus is not None and inv is not None:
            hist = corpus.filter(F.col("batch") < batch_id).drop("batch")
            hist_inv = inv.filter(F.col("batch") < batch_id).drop("batch")
            results = ivf_search(
                hist,
                batch,
                n_cells=0,  # unused: the prebuilt index IS the structure
                nprobe=nprobe,
                k=k,
                id_col=id_col,
                prebuilt=(cent, hist_inv),
            )
        else:  # first batch: empty history, empty result set
            results = (
                batch.select(
                    F.col(id_col).alias("q_vec_id"),
                    F.col(id_col).alias("n_vec_id"),
                    F.lit(0).cast("int").alias("rank"),
                    F.lit(0.0).alias("cos"),
                ).filter(F.lit(False))
            )
        new_inv = ivf_assign(batch, cent, id_col)
        write_batch_partition(results, results_path, batch_id)
        write_batch_partition(batch, corpus_path, batch_id)
        write_batch_partition(new_inv, inv_path, batch_id)

    return sink
