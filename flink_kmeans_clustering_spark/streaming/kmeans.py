"""Streaming mini-batch K-Means (decayed centroid updates per micro-batch).

The streaming twin of the reference's bulk-iteration Lloyd loop
(``KMeans.java:148-171``): instead of re-scanning a static dataset per
superstep, each micro-batch refines the centroids once — the
mini-batch / StreamingKMeans update rule (Sculley, WWW 2010; MLlib's
``StreamingKMeans``):

    w_c'  = α · w_c + m_c
    Σx_c' = α · Σx_c + sx_c        (centroid = Σx_c / w_c)

where ``m_c``/``sx_c`` are the batch's per-cluster count/coordinate
sums and ``α`` is the decay factor (1.0 = every batch weighs equally —
the running exact weighted mean; < 1 exponentially forgets old data,
the continuous-drift deployment setting).

Scale physics per batch: the assignment is the same narrow map as the
batch path (:func:`..operators.kmeans.assign_points` — no join, no
shuffle of the stream), followed by one k-row partial
aggregate; only k rows reach the driver per batch.  State is k
``(Σx, Σy, w)`` triples held driver-side — the exact analogue of the
reference's k-row broadcast state.

Holding state as SUMS (not means) makes the α=1 path bit-exact: a
single-batch drain emits ``Σx/m`` — identically the batch
``update_centroids`` projection, so the DuckDB oracle for one
assignment+update step applies to the streaming result verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_kmeans_clustering_spark.operators.kmeans import Centroid, assign_points
from flink_kmeans_clustering_spark.streaming.run import run_foreach_batch


def streaming_kmeans(
    stream_points: DataFrame,
    init: list[Centroid],
    decay: float = 1.0,
    x: str = "x",
    y: str = "y",
    timeout_sec: int = 300,
) -> list[tuple[int, float, float, float]]:
    """Drain ``stream_points`` through mini-batch K-Means updates.

    Returns the final ``(id, cx, cy, weight)`` per centroid, in id
    order.  Centroids that never received a point keep their init
    position with weight 0 (the caller decides drop-vs-keep; the
    reference's update drops empties, so the flagship query filters
    ``weight > 0``).
    """
    # state: id -> [Σx, Σy, w]; position falls back to init while w == 0
    init_pos = {int(i): (float(cx), float(cy)) for i, cx, cy in init}
    state: dict[int, list[float]] = {int(i): [0.0, 0.0, 0.0] for i, _, _ in init}

    def _current() -> list[Centroid]:
        out = []
        for cid in sorted(state):
            sx, sy, w = state[cid]
            if w > 0.0:
                out.append((cid, sx / w, sy / w))
            else:
                out.append((cid, *init_pos[cid]))
        return out

    def _update(batch: DataFrame, epoch_id: int) -> None:
        rows = (
            assign_points(batch, _current(), x=x, y=y)
            .groupBy("cluster")
            .agg(
                F.sum(x).alias("sx"),
                F.sum(y).alias("sy"),
                F.count(F.lit(1)).alias("m"),
            )
            .collect()
        )
        if not rows:
            return
        for cid in state:
            s = state[cid]
            s[0] *= decay
            s[1] *= decay
            s[2] *= decay
        for r in rows:
            s = state[int(r["cluster"])]
            s[0] += float(r["sx"])
            s[1] += float(r["sy"])
            s[2] += float(r["m"])

    run_foreach_batch(stream_points, _update, timeout_sec=timeout_sec)
    return [
        (cid, sx / w if w > 0 else init_pos[cid][0],
         sy / w if w > 0 else init_pos[cid][1], w)
        for cid, (sx, sy, w) in sorted(state.items())
    ]
