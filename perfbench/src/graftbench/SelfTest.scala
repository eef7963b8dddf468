package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's own tests: inputs depend on the seed alone, and the
  * plan-pruning guard notices a consumer that drops graft work. Exits
  * non-zero on the first failure. */
object SelfTest {
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"SELFTEST ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) sys.exit(1)
  }

  def run(spark: SparkSession): Unit = {
    def vec(seed: Long) = Inputs.hash(new Inputs.Clusters(seed, 16, 8).draw(500, 0L))
    def docs(seed: Long) = Inputs.hash(Inputs.corpus(seed, 300, 20, 0.2, 4, 0.3))
    expect("same seed, same vectors", vec(7) == vec(7))
    expect("other seed, other vectors", vec(7) != vec(8))
    expect("same seed, same corpus", docs(7) == docs(7))
    expect("other seed, other corpus", docs(7) != docs(8))

    // a range, not a local relation: the optimizer evaluates projections
    // over local rows itself, leaving no graft expression to guard
    val v = spark.range(0, 200).select(col("id"),
      array((0 until 8).map(j => (col("id") % (j + 3)).cast("float")): _*).as("vec"))
    val q = array((0 until 8).map(_ => lit(0.5f)): _*)
    val full = v.select(col("id"), graft.functions.vector_distance(graft.core.Metric.L2, col("vec"), q).as("d"))
    full.collect()
    expect("full materialization keeps graft expressions",
      Guard.logical(full.queryExecution.optimizedPlan).nonEmpty && Guard.missing(full).isEmpty)
    val counted = full.groupBy().count()
    counted.collect()
    expect("a count() consumer is caught dropping them",
      Guard.missingAgainst(full, counted).nonEmpty)
  }
}
