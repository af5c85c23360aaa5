package graft.scale

import org.apache.spark.sql.functions._

/** Measures the `topk_route` table-ship ceiling: literal-in-task-binary
  * vs Broadcast, across centroid counts up to the 4√n ladder cap
  * (~126k rows at 10⁹ vectors ≈ 65 MB of quantized centroids) — the
  * one round-12 scale assumption that had no number (VERDICT r12
  * task 2). For each k it synthesizes a seeded centroid table, runs
  * the REAL driver-side coarse/fine grouping
  * ([[graft.queries.Similarity.coarseGroups]] — its wall time is the
  * index-prep cost a deployment pays once per snapshot), then times
  * the assignment over an n-vector frame with MANY tasks (the per-task
  * task-binary deserialization is exactly what the literal ship pays
  * and the broadcast ship amortizes per executor), attributing with
  * executorDeserializeTime from task metrics.
  *
  * `tools/run.sh graft.scale.RouteCeilingBench [kList] [n] [parts] [runs]`
  * defaults: k=2048,8192,20000,50000,126492; n=1,000,000; 256
  * partitions; 2 runs (min reported). Prints one `ROUTECEIL {...}`
  * line per (k, ship) cell. */
object RouteCeilingBench {

  private def serBytes(o: AnyRef): Long = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o); oos.close()
    bos.size().toLong
  }

  def main(args: Array[String]): Unit = {
    val ks = (if (args.length > 0) args(0) else "2048,8192,20000,50000,126492")
      .split(',').map(_.trim.toInt).toSeq
    val n = if (args.length > 1) args(1).toLong else 1000000L
    val parts = if (args.length > 2) args(2).toInt else 256
    val runs = if (args.length > 3) args(3).toInt else 2
    val dim = 64
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.VectorFunctions.register(spark)
    val listener = graft.TaskMetricsListener.install(spark.sparkContext)

    // the probe corpus: n quantized vectors, dim 64, `parts` tasks —
    // persisted so every cell scans the identical in-memory frame
    val v = spark.range(n).repartition(parts)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          d => (pmod(hash(col("id") * lit(dim) + d), lit(2001)) - 1000)
            .cast("long")).as("q"))
      .withColumn("qn", sqrt(expr("dot_product(q, q)").cast("double")))
      .filter(col("qn") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nLive = v.count()
    println(s"corpus: $nLive vectors x dim $dim in $parts partitions")

    ks.foreach { k =>
      val rnd = new java.util.Random(20260815L + k)
      val rows = Array.tabulate(k) { c =>
        val cs: Seq[Long] = Seq.fill(dim)((rnd.nextInt(2001) - 1000).toLong)
        (c.toLong, cs, math.sqrt(cs.map(x => x.toDouble * x).sum))
      }
      val t0 = System.nanoTime()
      val (coarse, fine) = graft.queries.Similarity.coarseGroups(rows)
      val groupSec = (System.nanoTime() - t0) / 1e9
      val tbl = graft.functions.VectorKernels.routeTableLocal(coarse, fine)
      val tblBytes = serBytes(tbl)
      println(f"k=$k kc=${coarse.length} groupSec=$groupSec%.2f " +
        f"tableMB=${tblBytes / 1e6}%.1f")

      def runCell(ship: String, assignCol: org.apache.spark.sql.Column): Unit = {
        val times = (1 to runs).map { _ =>
          listener.reset()
          val t = System.nanoTime()
          // aggregate the exploded assignment so the kernel output is
          // fully materialized with a negligible result
          v.select(col("vec_id"), explode(assignCol).as("_a"))
            .agg(sum(col("_a.cid")), count(lit(1))).collect()
          val sec = (System.nanoTime() - t) / 1e9
          listener.drain()
          (sec, listener.deserMs, listener.maxTaskDeserMs, listener.runMs,
            listener.tasks)
        }
        val best = times.minBy(_._1)
        println(s"""ROUTECEIL {"k":$k,"ship":"$ship","n":$nLive,""" +
          s""""parts":$parts,"tableMB":${tblBytes / 1e6},""" +
          f""""wallSec":${best._1}%.2f,"deserSecTotal":${best._2 / 1e3}%.2f,""" +
          f""""deserSecMaxTask":${best._3 / 1e3}%.3f,""" +
          f""""execRunSec":${best._4 / 1e3}%.1f,"tasks":${best._5}}""")
      }

      runCell("literal", call_function("topk_route",
        col("q"), col("qn"), lit(1),
        lit(graft.queries.Similarity.CoarseProbes),
        typedLit(coarse.toSeq), typedLit(fine.toSeq)))

      val bc = spark.sparkContext.broadcast(tbl)
      import org.apache.spark.sql.graftshim.ExprColumn
      runCell("broadcast", ExprColumn.column(graft.functions.TopKRouteBc(
        Seq(ExprColumn.expression(col("q")), ExprColumn.expression(col("qn"))),
        bc, 1, graft.queries.Similarity.CoarseProbes)))
      bc.destroy()
    }
    spark.stop()
  }
}
