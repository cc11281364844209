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

from network_iq_spark.streaming.dedup import (
    read_history,
    read_if_exists,
    write_batch_partition,
)


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
    near-dup sink). The batch is persisted for one evaluation and
    unpersisted when the call ends, as the admission sinks release
    theirs.
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
        # history as of strictly earlier batches (read_history), so a
        # replay searches the snapshot its first run searched
        hist = read_history(spark, corpus_path, batch_id)
        hist_inv = read_history(spark, inv_path, batch_id)
        batch = with_norm(
            batch_df.select(id_col, F.col(vec_col).alias("v"))
        ).persist()  # one evaluation: search + assign + write
        try:
            if hist is not None and hist_inv is not None:
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
        finally:
            batch.unpersist()

    return sink
