package graft

import graft.core.Overlap

/** Driver-thread legs ([[Overlap]]) run with the SUBMITTING caller's
  * Spark local properties — job group, job tags and SQL execution id
  * ride there, so a leg that kept a previous caller's properties would
  * attribute its jobs to the wrong caller.
  */
class OverlapSpec extends SparkSpec {
  private val key = "graft.test.caller"

  /** Run both legs from a fresh caller thread whose property is `value`;
    * returns what each leg saw. */
  private def legsFrom(value: String): Seq[String] = {
    val sc = spark.sparkContext
    @volatile var seen: Seq[String] = Nil
    val caller = new Thread(() => {
      sc.setLocalProperty(key, value)
      seen = Overlap.all(Seq.fill(2)(() => sc.getLocalProperty(key)))
    })
    caller.start()
    caller.join()
    seen
  }

  test("legs see the calling thread's local properties, also when a second caller follows the first") {
    assert(legsFrom("a") == Seq("a", "a"))
    assert(legsFrom("b") == Seq("b", "b"),
      "a leg kept an earlier caller's local properties")
  }

  test("a failing leg rethrows after its sibling finished, with the other failures suppressed") {
    @volatile var siblingDone = false
    val e = intercept[IllegalStateException](Overlap.all(Seq(
      () => throw new IllegalStateException("first"),
      () => { Thread.sleep(200); siblingDone = true },
      () => throw new IllegalArgumentException("third"))))
    assert(e.getMessage == "first")
    assert(siblingDone, "returned before the sibling leg finished")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
    assert(Overlap.inParallel(1, "x") == ((1, "x")))
  }
}
