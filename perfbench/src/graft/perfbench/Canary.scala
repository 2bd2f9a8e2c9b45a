package graft.perfbench

import org.apache.spark.sql.Row

/** Shows each driver-side output check passing on a correct output and
  * going red when one value of that output is altered. Exits 1 when a
  * check misses the alteration or rejects the correct output.
  */
object Canary {
  def main(args: Array[String]): Unit = {
    var failures = 0
    def expect(name: String, correct: Option[String], altered: Option[String]): Unit = {
      val ok = correct.isEmpty && altered.isDefined
      if (!ok) failures += 1
      println(s"${if (ok) "ok" else "FAIL"} $name: correct=${correct.getOrElse("passes")}, " +
        s"altered=${altered.getOrElse("passes")}")
    }
    def same(a: Array[Row], b: Array[Row]) =
      if (Checks.digest(a) == Checks.digest(b)) None else Some("digest differs")

    val result = Array(Row(1L, "keep", 0.25), Row(2L, "near_dup", 0.5))
    val reordered = result.reverse
    expect("digest", same(result, reordered),
      same(result, Array(Row(1L, "keep", 0.25), Row(2L, "near_dup", 0.50000001))))

    // explanation rows: (instance_id, rank, feature, weight, …)
    val expl = Array(
      Row(1L, 1, "a", 3.0), Row(1L, 2, "b", 1.0),
      Row(2L, 1, "c", 2.0), Row(2L, 2, "a", -1.5),
      Row(3L, 1, "b", 2.5), Row(3L, 2, "c", 0.5))
    expect("lime rows", Checks.limeRows(expl, Set(1L, 2L, 3L), 2),
      Checks.limeRows(expl.updated(3, Row(2L, 3, "a", -1.5)), Set(1L, 2L, 3L), 2))
    expect("lime weights", Checks.limeRows(expl, Set(1L, 2L, 3L), 2),
      Checks.limeRows(expl.updated(0, Row(1L, 1, "a", Double.NaN)), Set(1L, 2L, 3L), 2))

    // I = {a: sqrt(4.5), b: sqrt(3.5), c: sqrt(2.5)}; instance 1 covers
    // {a, b} (gain 3.99…), then 2 adds c, then 3 adds nothing
    val w = expl.map(r => (r.getLong(0), r.getString(2), r.getDouble(3))).toSeq
    val (ia, ib, ic) = (math.sqrt(4.5), math.sqrt(3.5), math.sqrt(2.5))
    val pick = Seq(1L -> (ia + ib), 2L -> ic, 3L -> 0.0)
    expect("sp-lime pick", Checks.greedyPick(w, pick, 3, 1e-9),
      Checks.greedyPick(w, Seq(2L -> (ia + ic), 1L -> ib, 3L -> 0.0), 3, 1e-9))
    expect("sp-lime gain", Checks.greedyPick(w, pick, 3, 1e-9),
      Checks.greedyPick(w, pick.updated(1, 2L -> (ic + 0.01)), 3, 1e-9))
    sys.exit(if (failures == 0) 0 else 1)
  }
}
