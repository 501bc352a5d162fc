package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** Exec.overlap, the one way independent jobs overlap: bounded, ordered,
  * and every sibling settles before the first failure surfaces. */
class ExecSuite extends GraftSuite {

  test("overlap returns results in order on at most n threads") {
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val out = Exec.overlap(2)((0 until 6).map { i => () =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(20)
      running.decrementAndGet()
      i * 10
    })
    assert(out == (0 until 6).map(_ * 10))
    assert(peak.get() <= 2)
    assert(Exec.overlap(3)(Seq.empty[() => Int]).isEmpty)
  }

  test("overlap settles every sibling, then rethrows the first failure") {
    val lateDone = new AtomicBoolean(false)
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalArgumentException] {
      Exec.overlap(3)(Seq(
        () => { Thread.sleep(300); lateDone.set(true); sys.error("late") },
        () => throw new IllegalArgumentException("early"),
        () => { Thread.sleep(300); slowDone.set(true) }))
    }
    assert(e.getMessage == "early")
    assert(lateDone.get() && slowDone.get())
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("late"))
  }

  test("overlap workers inherit the caller's Spark local properties") {
    val sc = spark.sparkContext
    sc.setJobDescription("graft-overlap-probe")
    try {
      val seen = Exec.overlap(2)(Seq.fill(3)(() =>
        sc.getLocalProperty("spark.job.description")))
      assert(seen == Seq.fill(3)("graft-overlap-probe"))
    } finally sc.setJobDescription(null)
  }
}
