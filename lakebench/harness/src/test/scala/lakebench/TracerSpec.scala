package lakebench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]").appName("tracer-spec")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("a job launched inside a span is counted in that span and nowhere else") {
    val tracer = new Tracer(spark.sparkContext)
    tracer.tracing = true
    val sc = spark.sparkContext
    val before = tracer.snapshot()
    // an RDD action launches exactly one job
    tracer.span("x", "t1") {
      sc.parallelize(1 to 100, 2).map(_ * 2).count()
      tracer.span("y")(sc.parallelize(1 to 10, 3).count())
    }
    tracer.span("z", "t2")(sc.parallelize(1 to 5, 1).collect())
    val total = tracer.snapshot() - before
    val spans = tracer.allSpans.map(s => s.name -> s).toMap
    assert(spans("x").self.jobs == 1)
    assert(spans("y").self.jobs == 1)
    assert(spans("z").self.jobs == 1)
    assert(total.jobs == 3)
    assert(tracer.unattributedJobs == 0)
    assert(spans("y").parent == spans("x").id && spans("y").trace == "t1")
    val derived = Tracer.derive(tracer.allSpans).map(d => d.span.name -> d).toMap
    assert(derived("x").inclusive.jobs == 2)
    assert(derived("x").inclusive.tasks == spans("x").self.tasks + spans("y").self.tasks)
    assert(spans.values.map(_.self.tasks).sum == total.tasks && total.tasks == 6)

    tracer.tracing = false
    sc.parallelize(1 to 3, 1).count()
    tracer.drain()
    assert(tracer.unattributedJobs == 0 && spans("z").self.jobs == 1)
  }

  test("a job without the span property is unattributed and in no span") {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    tracer.tracing = true
    def bare(): Unit = { // a thread whose local properties carry no span
      val t = new Thread(() => { sc.setLocalProperty(Tracer.SpanKey, null); sc.parallelize(1 to 3, 1).count() })
      t.start(); t.join()
    }
    bare()
    tracer.span("a")(bare())
    tracer.drain()
    val a = tracer.allSpans.find(_.name == "a").get
    assert(tracer.unattributedJobs == 2)
    assert(tracer.unattributedCallSites.forall(c => c.startsWith("count at") && c.contains("1 stages")))
    assert(a.self.jobs == 0 && a.self.tasks == 0)
  }

  test("untraced spans only run their body") {
    val tracer = new Tracer(spark.sparkContext)
    assert(tracer.span("x")(41 + 1) == 42)
    assert(tracer.allSpans.isEmpty)
  }

  test("union length merges overlaps and clips to the window") {
    assert(Tracer.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 0, 10) == 4.0)
    assert(Tracer.unionLength(Seq((-5.0, 1.0), (9.0, 20.0)), 0, 10) == 2.0)
    assert(Tracer.unionLength(Nil, 0, 10) == 0.0)
  }

  test("runs that would measure another program are refused") {
    val ok = Seq("-Xmx3g", "-XX:ReservedCodeCacheSize=512m")
    assert(Harness.refusals(Map.empty, ok).isEmpty)
    assert(Harness.refusals(Map("SPARK_GRAFT_EXTRA_CONFS" -> " "), ok).isEmpty)
    assert(Harness.refusals(Map("SPARK_GRAFT_EXTRA_CONFS" -> "a=b"), ok).size == 1)
    assert(Harness.refusals(Map.empty, Seq("-Xmx3g")).size == 1)
  }
}
