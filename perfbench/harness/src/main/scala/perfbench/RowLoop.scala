package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import perfbench.Harness.{Ctx, Op, Outcome}

/** A workload's ops: `SparkEntry.queries` rows, each op materialized with
  * `collect()`, plus the corpus-ingest day ([[CorpusDaily]]) when the op
  * list names `ext.Corpus/day_update`. Ops are `(layer, name)` pairs.
  *
  * Set-up builds the corpus op's day-0 warehouse, when there is one (a
  * failed corpus set-up skips its timed op). Then exactly one round is
  * timed: every op once, in list order, each a first call in this JVM —
  * the cold call a user running the query in a fresh process pays,
  * frozen-model builds included. The rows' results go to the oracle after
  * the round. */
object RowLoop {
  private type Result = Option[(Array[Row], StructType)]

  def run(ctx: Ctx, ops: Seq[(String, String)]): Outcome = {
    val spark = ctx.spark
    val queries = graft.SparkEntry.queries
    val corpusOp = ("ext.Corpus", CorpusDaily.OpName)
    graft.ops.FrozenCaches.drainBuildLog()
    val corpus = Option.when(ops.contains(corpusOp))(
      try Right(CorpusDaily.setup(ctx)) catch { case e: Throwable => Left(Harness.describe(e)) })
    val setupEndMs = System.currentTimeMillis()
    val (setupCpuSec, setupJitSec) = (Harness.processCpuSec(), Harness.jitCpuSec())

    val timedOps = ArrayBuffer.empty[Op]
    val results = ArrayBuffer.empty[(String, Array[Row], StructType)]
    var lastOpEndMs = setupEndMs
    for ((layer, name) <- ops) {
      val startMs = System.currentTimeMillis()
      val measured =
        if ((layer, name) == corpusOp)
          corpus.flatMap(_.toOption).map(day => Harness.timed[Result] { day.update(); None })
        else Some(Harness.timed[Result](ctx.span(layer, name) {
          val df = queries(name)(spark, ctx.data)
          Some((df.collect(), df.schema))
        }))
      measured.foreach { case (res, sec, cpuSec, jitSec) =>
        lastOpEndMs = System.currentTimeMillis()
        res.foreach(_.foreach { case (rows, schema) => results += ((name, rows, schema)) })
        timedOps += Op(name, layer, startMs, sec, cpuSec, jitSec, res.left.toOption)
        ctx.cleanup()
      }
    }
    val builds = graft.ops.FrozenCaches.drainBuildLog()
    val peakRssMb = Harness.vmHwmMb()
    ctx.tracer.foreach(_.flush(spark))

    val oracle = graft.SparkEntry.oracleSql
    val dumped = results.toSeq.collect { case (row, rows, schema) if oracle.contains(row) =>
      dump(ctx, row, rows, schema)
      row -> oracle(row)
    }
    val corpusChecks = corpus.flatMap(_.toOption).toSeq.flatMap { day =>
      try day.oracles() catch { case e: Throwable =>
        val i = timedOps.indexWhere(o => (o.layer, o.row) == corpusOp)
        if (i >= 0 && timedOps(i).error.isEmpty)
          timedOps(i) = timedOps(i).copy(error = Some(s"check failed: ${Harness.describe(e)}"))
        Nil
      }
    }
    Harness.writeOracles(ctx.out, dumped ++ corpusChecks)
    Outcome(corpus.flatMap(_.left.toOption).map(corpusOp._2 -> _).toSeq, builds, setupEndMs,
      setupCpuSec, setupJitSec, timedOps.toSeq, lastOpEndMs, peakRssMb,
      corpus.flatMap(_.toOption).fold(Seq.empty[(String, String)])(d =>
        Seq("stream_batches" -> d.batchesJson)))
  }

  def dump(ctx: Ctx, name: String, rows: Array[Row], schema: StructType): Unit =
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"${ctx.out}/results/$name")
}
