package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ListenerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("perfbench-listener-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a one-job action inside a span counts exactly one job and its tasks") {
    val sc = spark.sparkContext
    val tr = new Tracer(sc, enabled = true)
    try {
      tr.newRun()
      sc.parallelize(1 to 10, 2).collect() // outside any span
      val got = tr.call("probe")(sc.parallelize(1 to 100, 3).map(_ * 2).collect())
      assert(got.length == 100)
      sc.parallelize(1 to 10, 2).collect() // after the span closed
      val probe = tr.spans().find(_.name == "probe").get
      assert(probe.jobs.get == 1)
      assert(probe.tasks.get == 3)
      assert(probe.taskNs.get > 0)
    } finally tr.stop()
  }

  test("a job in a child span also counts for its parent, not its sibling") {
    val sc = spark.sparkContext
    val tr = new Tracer(sc, enabled = true)
    try {
      tr.newRun()
      tr.call("outer") {
        tr.call("first")(sc.parallelize(1 to 4, 1).collect())
        tr.call("second")(sc.parallelize(1 to 4, 2).collect())
      }
      val byName = tr.spans().map(s => s.name -> s).toMap
      assert(byName("outer").jobs.get == 2)
      assert(byName("outer").tasks.get == 3)
      assert(byName("first").jobs.get == 1)
      assert(byName("second").jobs.get == 1)
      assert(byName("first").parent.exists(_ eq byName("outer")))
    } finally tr.stop()
  }

  test("a disabled tracer opens no spans and leaves results lazy") {
    val tr = new Tracer(spark.sparkContext, enabled = false)
    var materialized = false
    val v = tr.layer("lazy")(41)(x => { materialized = true; x + 1 })
    assert(v == 41)
    assert(!materialized)
    assert(tr.spans().isEmpty)
  }
}
