package graft

import graft.plans.{AsOfJoinStrategy, FuseCosine}
import org.apache.spark.sql.functions.{col, lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

/** The shared session factory and its noop-run meter, on the suite's own
  * session (built by [[GraftSession.local]]). */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("session is UTC, shuffle partitions equal the width, retention is capped") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.sql.ui.retainedExecutions") == "5")
    assert(conf.get("spark.ui.retainedJobs") == "20")
    assert(conf.get("spark.ui.retainedStages") == "50")
    assert(conf.get("spark.ui.retainedTasks") == "2000")
    assert(conf.get("spark.ui.retainedDeadExecutors") == "1")
  }

  test("cosine_sim resolves in SQL") {
    assert(spark.sql("SELECT cosine_sim(array(1.0D, 0.0D), array(2.0D, 0.0D))")
      .head().getDouble(0) == 1.0)
  }

  test("FuseCosine and AsOfJoinStrategy are installed once, also after a second configure") {
    def counts = {
      val st = spark.sessionState
      (st.optimizer.extendedOperatorOptimizationRules.count(_ == FuseCosine) +
        spark.experimental.extraOptimizations.count(_ == FuseCosine),
        st.planner.strategies.count(_ == AsOfJoinStrategy))
    }
    assert(counts == ((1, 1)))
    Tables.configure(spark)
    assert(counts == ((1, 1)))
  }

  test("noopRun reports shuffle MB for a groupBy and none for a bare range") {
    val (_, groupMb, groupErr) = GraftSession.noopRun(spark)(
      spark.range(1000).groupBy(col("id") % 10).count())
    assert(groupErr.isEmpty)
    assert(groupMb > 0.0)
    val (_, rangeMb, rangeErr) = GraftSession.noopRun(spark)(spark.range(10).toDF())
    assert(rangeErr.isEmpty)
    assert(rangeMb == 0.0)
  }

  test("noopRun returns a failing frame's error instead of throwing") {
    val (_, _, runErr) = GraftSession.noopRun(spark)(
      spark.range(3).select(raise_error(lit("noop-run-boom"))))
    assert(runErr.exists(_.contains("noop-run-boom")), runErr)
    val (_, _, buildErr) = GraftSession.noopRun(spark)(
      throw new IllegalStateException("frame build failed"))
    assert(buildErr.contains("IllegalStateException: frame build failed"))
  }

  test("noopRun leaves no persisted RDDs behind") {
    var persistedDuring = 0
    val (_, _, err) = GraftSession.noopRun(spark) {
      val df = spark.range(100).toDF().localCheckpoint()
      persistedDuring = spark.sparkContext.getPersistentRDDs.size
      df.groupBy(col("id") % 3).count()
    }
    assert(err.isEmpty)
    assert(persistedDuring > 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
