package graft

import java.util.concurrent.atomic.AtomicBoolean

/** [[Par.overlap]]'s contract: legs run under the caller's Spark
  * thread-locals, are always joined, and propagate their failures. */
class ParSpec extends SparkSpec {

  private def description: String =
    spark.sparkContext.getLocalProperty("spark.job.description")

  test("overlap: the leg sees the caller's job description as of the call") {
    val sc = spark.sparkContext
    try {
      // the first call creates the pool thread while "first" is set; a
      // thread that inherited its properties would keep seeing it
      sc.setJobDescription("first")
      Par.overlap(description)(())._1 shouldBe "first"
      sc.setJobDescription("second")
      (1 to 3).map(_ => Par.overlap(description)(())._1) shouldBe
        Seq.fill(3)("second")
    } finally sc.setJobDescription(null)
  }

  test("overlap: when the body throws, the leg has finished before the caller sees it") {
    val legDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.overlap { Thread.sleep(300); legDone.set(true) } {
        throw new IllegalStateException("body")
      }
    }
    e.getMessage shouldBe "body"
    legDone.get shouldBe true
  }

  test("overlap: a failed leg's exception propagates unwrapped") {
    val e = intercept[IllegalArgumentException] {
      Par.overlap[Unit, Int](throw new IllegalArgumentException("leg"))(1)
    }
    e.getMessage shouldBe "leg"
  }

  test("overlap: nested overlaps inside a leg complete, with Spark jobs on every thread") {
    import spark.implicits._
    val df = (1 to 100).toDF("x")
    val ((a, b), c) = Par.overlap(Par.overlap(df.count())(df.filter($"x" > 50).count())) {
      df.filter($"x" <= 10).count()
    }
    (a, b, c) shouldBe ((100L, 50L, 10L))
  }
}
