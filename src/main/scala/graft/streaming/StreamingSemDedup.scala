package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Streaming semantic-dedup gate (s23) — the online form of batch
  * q112 and s19's embedding-space sibling: vectors arrive as a stream
  * (a landing directory of encoder output shards) and every incoming
  * vector gets a keep/drop verdict against a STATIC pre-built IVF
  * index the moment its micro-batch is processed. This is how
  * incremental corpus ingestion runs SemDeDup at 100 TB: the index is
  * trained once (or refreshed on a slow cadence) and each arriving
  * shard pays only its own row-local centroid assignment + one
  * cluster-equality join against the indexed members — never a
  * full-corpus retrain or all-pairs pass.
  *
  * Semantics — deliberately INDEX-ONLY, the batching-invariant form
  * of q112: a vector is dropped when ANY indexed member of its
  * assigned cluster scores rounded cosine ≥ the shared
  * [[graft.queries.Similarity.SemDedupCos]] threshold; keeper = the
  * lowest such indexed vec_id (always a member of the index, so the
  * batch twin's transitive-chain keeper caveat does not arise here).
  * Incoming vectors are never compared to EACH OTHER — a verdict is a
  * pure function of (vector, index), so streaming a shard in 1 batch
  * or N batches gives identical verdicts (StreamingSemDedupSpec).
  * Batch q112 instead dedups within the closed corpus; the two agree
  * on any vector whose nearest above-threshold neighbor is indexed.
  *
  * Scale design: assignment rides the same row-local topk_assign_bc /
  * topk_route_bc kernels (and TwoLevelK fence) as q31 —
  * zero shuffle per batch for the routing; the member frame is
  * persisted and cluster-partitioned once at index build, so the
  * per-batch join shuffles only the shard-sized incoming side. State
  * held across batches: zero bytes (the index is immutable);
  * foreachBatch + AvailableNow + idempotent partition overwrite is
  * the same incremental-batch discipline as s19.
  */
object StreamingSemDedup {

  /** The static side: driver-resident centroid table (the memoized
    * Lloyd's index every batch consumer shares) + the indexed member
    * frame (vec_id, cluster, v, nrm), cluster-partitioned and
    * persisted so each micro-batch joins against the cache instead of
    * re-assigning the corpus. [[Index.release]] on refresh, like
    * s19's. */
  final case class Index(centroids: Array[(Long, Seq[Long], Double)],
      members: DataFrame) {
    def release(): Unit = {
      members.unpersist()
      ()
    }
  }

  /** Build the index from the stored corpus at `dir` — the SAME
    * memoized centroid chain as q31/q52/q97/q112 (building after any
    * of them ran is free), members persisted behind a cluster
    * repartition so the per-batch equality join never reshuffles the
    * index side. */
  def buildIndex(s: SparkSession, dir: String): Index = {
    val (centroids, members) = graft.queries.Similarity.semDedupIndex(s, dir)
    Index(centroids, members.repartition(col("cluster")).persist())
  }

  /** One verdict row per admissible incoming vector:
    * (vec_id, kept, keeper) — q112's output shape with index-only
    * semantics (see [[graft.queries.Similarity.semDedupGate]]). */
  def gate(batch: DataFrame, idx: Index): DataFrame =
    graft.queries.Similarity.semDedupGate(batch.sparkSession, batch,
      idx.centroids, idx.members)

  /** Wire a (vec_id, embedding) stream through the gate with
    * foreachBatch, writing parquet verdicts partitioned by batch id.
    * AvailableNow = the incremental-batch shape; the write is
    * idempotent per batch (dynamic partition overwrite), so
    * at-least-once replays land exactly-once verdicts. */
  def start(vectors: DataFrame, idx: Index, outDir: String,
      checkpoint: String): StreamingQuery =
    writer(vectors, idx, outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private def writer(vectors: DataFrame, idx: Index,
      outDir: String): DataStreamWriter[Row] =
    vectors.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      IdempotentSink.putBatch(gate(batch, idx), id, outDir)
    }
}
