"""IVF ANN index *at rest*: the 100 TB serving shape for similarity
search.

`similarity.ann_ivf_topk` recomputes cell assignment per query — right
for ad-hoc analysis, wrong for a serving index. Here the assignment is
paid once at build time and becomes the physical layout:

- vectors land in parquet **partitioned by the IVF cell id**, so a
  probe of ``n_probe`` cells is a partition-pruned scan (Catalyst
  ``PartitionFilters``) that never touches the other
  ``n_list - n_probe`` cells' files;
- centroids (n_list × dim — driver-sized at any scale) are stored
  alongside and loaded per query to pick the probe cells;
- optional int8 quantization (`similarity.quantize_int8`) shrinks the
  at-rest index 4× — probes re-rank on the reconstructed vectors.

Build cost: one assignment pass (Arrow-batched pandas UDF, centroids
broadcast in-closure) + one partitioned write. Probe cost:
``n_probe / n_list`` of the corpus, enforced by partition pruning
rather than a runtime filter.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import require_local
from ..streaming import start_foreach_batch
from .similarity import _assign_cell_udf, cosine, ivf_centroids


def write_ivf_index(
    df: DataFrame,
    out_dir: str,
    n_list: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train coarse centroids, assign each vector once, and write the
    index partitioned by cell. Returns the centroid matrix."""
    spark = df.sparkSession
    cents = ivf_centroids(df, n_list, iters, id_col, vec_col)
    assigned = df.withColumn("cell", _assign_cell_udf(cents)(F.col(vec_col)))
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(out_dir, "vectors")
    )
    cent_rows = [(i, [float(x) for x in cents[i]]) for i in range(len(cents))]
    spark.createDataFrame(cent_rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "centroids"))
    return cents


def probe_ivf_index(
    spark: SparkSession,
    index_dir: str,
    query_vec,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Top-k cosine neighbors of ``query_vec`` reading only the
    ``n_probe`` nearest cells' partitions (verify with ``.explain()`` —
    the cell predicate lands in ``PartitionFilters``, not a post-scan
    filter)."""
    import numpy as np

    cent_rows = spark.read.parquet(os.path.join(index_dir, "centroids")).collect()
    cents = np.zeros((len(cent_rows), len(cent_rows[0]["centroid"])))
    for r in cent_rows:
        cents[r["cell"]] = r["centroid"]
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe = [int(c) for c in np.argsort(-(cents @ qn))[:n_probe]]

    qcol = F.lit([float(x) for x in query_vec])
    idx = spark.read.parquet(os.path.join(index_dir, "vectors"))
    return (
        idx.filter(F.col("cell").isin(probe))
        .select(
            id_col,
            "cell",
            F.round(cosine(F.col(vec_col), qcol), 6).alias("cos_sim"),
            *keep_cols,
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def append_to_ivf_index(
    df: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incrementally add vectors to an existing index: assign each new
    vector to its nearest EXISTING centroid (no retrain) and append to
    that cell's partition directory. Returns the number appended.

    The at-scale maintenance contract: appends are new files inside
    the assigned cells' directories — probes keep pruning exactly as
    before and immediately see the new vectors; nothing is rewritten.
    Centroids drift as the distribution shifts; rebuild (write_ivf_
    index, idempotent) on a maintenance cadence when probe recall
    degrades — the same OPTIMIZE rhythm as storage compaction."""
    import numpy as np

    spark = df.sparkSession
    cent_rows = spark.read.parquet(os.path.join(index_dir, "centroids")).collect()
    cents = np.zeros((len(cent_rows), len(cent_rows[0]["centroid"])))
    for r in cent_rows:
        cents[r["cell"]] = r["centroid"]
    assigned = df.withColumn("cell", _assign_cell_udf(cents)(F.col(vec_col)))
    # cut lineage before writing into the directory tree probes read
    assigned = assigned.localCheckpoint(eager=True)
    assigned.write.mode("append").partitionBy("cell").parquet(
        os.path.join(index_dir, "vectors")
    )
    return assigned.count()


VEC_STREAM_SCHEMA = "vec_id long, embedding array<float>"


def vec_file_source(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines embedding stream (explicit schema — no inference;
    the same plan runs on a Kafka source)."""
    return spark.readStream.schema(VEC_STREAM_SCHEMA).json(path)


def stream_into_ivf_index(
    vec_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Continuous index maintenance: embeddings arriving on a stream
    are assigned to their existing IVF cell and appended per
    micro-batch — searchable (with partition pruning intact) as soon
    as the batch commits. The streaming half of the RAG index
    lifecycle (build once, then keep ingesting).

    Delivery contract: appends are at-least-once across crash windows —
    an epoch marker under ``_epochs/`` makes the common restart-replay
    a no-op, but a crash BETWEEN the parquet append and the marker
    write can duplicate one batch. Duplicate vectors only cost probe
    work (same id ranked twice); the id-keyed rebuild
    (``write_ivf_index``, idempotent) on the maintenance cadence is
    the compaction that restores exactly-once state — the same
    OPTIMIZE rhythm as storage compaction.
    """

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        require_local(index_dir, "ivf_index_sink")  # os-level markers
        marker_dir = os.path.join(index_dir, "_epochs")
        marker = os.path.join(marker_dir, str(epoch_id))
        if os.path.exists(marker):  # replayed epoch → already appended
            return
        if batch_df.isEmpty():
            return
        append_to_ivf_index(batch_df, index_dir, id_col, vec_col)
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as f:
            f.write("")

    return start_foreach_batch(vec_stream, sink, checkpoint_dir, None, "append")
