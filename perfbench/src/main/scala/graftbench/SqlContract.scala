package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.GraftEngine
import graft.core.Canonical

/** Passes over the 55 SURVEY §2 contract queries through
  * `GraftEngine.ops(id)`, results collected, in a seed-permuted order.
  * Each query is an operation; its output must hash to the certified
  * value for the fixture's scale factor.
  */
object SqlContract {
  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val tr = ctx.tracer
    val certified = ctx.fixture.getFileName.toString match {
      case "sf0.1" => graft.Contract.hash1
      case "sf0.01" => graft.Contract.hash01
      case other => throw new IllegalArgumentException(s"no certified hashes for $other")
    }
    val warmUpId = graft.Contract.all.head.id

    // set-up: copy the tables, register them, run one untimed query
    var eng: GraftEngine = null
    (1 to 3).foreach { i =>
      tr.span("setup") {
        val dir = ctx.dir(s"gen$i")
        Inputs.copyTables(ctx.fixture, dir, Inputs.tables)
        eng = tr.span("sources.register")(GraftEngine(ctx.spark, dir.toString))
        eng.ops(warmUpId).collect()
      }
    }

    val order = Inputs.contractOrder(ctx.seed)
    val t0 = System.nanoTime()
    var passes = 0
    var rowsReturned = 0L
    do {
      val results = mutable.ArrayBuffer[(String, Array[Row])]()
      tr.span("pass") {
        order.foreach { id =>
          out.attempted += 1
          try tr.span("op", id) {
            val df = tr.span("ops.compose", id) {
              val df = eng.ops(id)
              df.queryExecution.executedPlan
              df
            }
            results += id -> tr.span("ops.execute", id)(df.collect())
          } catch {
            case e: Exception => out.fail(s"$id threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      }
      passes += 1
      // output checks, outside the timed spans
      results.foreach { case (id, rows) =>
        rowsReturned += rows.length
        val h = Canonical.sha256Hex(Canonical.render(rows.toSeq)).take(16)
        out.check(h == certified(id), s"$id hash $h, certified ${certified(id)}")
      }
    } while ((System.nanoTime() - t0) / 1e9 < ctx.seconds)

    val passMs = tr.named("pass").map(_.ms)
    val opMs = tr.named("op").map(_.ms)
    val setupS = Percentile(tr.named("setup").map(_.ms / 1e3), 50)
    val tailP = TailPercentile(opMs.size)
    out.e2e("setup_s") = (setupS, "s")
    out.e2e("cycle_s") = (Percentile(passMs, 50) / 1e3, "s")
    out.e2e("request_p50_ms") = (Percentile(opMs, 50), "ms")
    out.e2e("request_p80_ms") = (Percentile(opMs, 80), "ms")
    out.report("setup_s") = (setupS, "s")
    out.report("sql_suite_s") = (Percentile(passMs, 50) / 1e3, "s")
    out.report("sql_query_p50_ms") = (Percentile(opMs, 50), "ms")
    out.report(s"sql_query_tail_ms (p$tailP)") = (Percentile(opMs, tailP), "ms")
    out.report("sql_suite_vs_baseline_spark (BASELINE.md 17.50 s, sf0.1, 32-vCPU box)") =
      (Percentile(passMs, 50) / 1e3 / 17.50, "ratio")

    if (tr.enabled) {
      tr.settle()
      def perPass(name: String) = tr.named(name).map(_.ms).sum / passes
      out.layer("ops.compose_ms", perPass("ops.compose"), "ms")
      out.layer("ops.execute_ms", perPass("ops.execute"), "ms")
      out.layer("sources.register_ms", Percentile(tr.named("sources.register").map(_.ms), 50), "ms")
      val s = tr.stats(tr.named("pass"))
      out.layer("sources.input_bytes", s.inputBytes.toDouble / passes, "bytes")
      out.layer("sources.rows_read_per_row_out", s.inputRecords.toDouble / math.max(1L, rowsReturned), "ratio")
      out.sparkLayers(tr, tr.named("pass"), opMs.size, passes)
    }
    out
  }
}
