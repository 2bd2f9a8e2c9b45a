package graft.perfbench

import org.apache.spark.sql.Row

/** Output checks that run on the Spark driver after each timed operation. */
object Checks {

  /** Order-independent digest of a result: SHA-256 over its sorted rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** LIME explanation rows (instance_id, rank, feature, weight, …): every
    * instance of the batch has exactly `k` rows ranked 1..k with finite
    * weights, and no other instance appears.
    */
  def limeRows(rows: Array[Row], ids: Set[Long], k: Int): Option[String] = {
    val byId = rows.groupBy(_.getLong(0))
    if (byId.keySet != ids)
      return Some(s"explained ${byId.size} instances, batch has ${ids.size}")
    byId.collectFirst {
      case (id, rs) if rs.map(_.getInt(1)).sorted.toSeq != (1 to k) =>
        s"instance $id has ranks ${rs.map(_.getInt(1)).sorted.mkString(",")}"
      case (id, rs) if rs.exists(r => r.isNullAt(3) || !java.lang.Double.isFinite(r.getDouble(3))) =>
        s"instance $id has a non-finite weight"
    }
  }

  /** Checks an SP-LIME pick against the greedy algorithm recomputed on
    * the Spark driver from the explanation matrix W (instance_id, feature,
    * weight) — KDD 2016 Algorithm 2: I_j = sqrt(Σ_i |W_ij|); each round
    * takes an instance with the largest importance sum over its
    * still-uncovered features. A round may take any instance whose gain is
    * within `tol` of the best, because summation order moves gains by a
    * few ulps and decides exact ties either way; the reported gain must
    * match the recomputed one within `tol`.
    */
  def greedyPick(w: Seq[(Long, String, Double)], picks: Seq[(Long, Double)], b: Int,
                 tol: Double): Option[String] = {
    val nz = w.map { case (id, f, x) => (id, f, math.abs(x)) }.filter(_._3 > 0)
    val imp = nz.groupBy(_._2).map { case (f, rs) => f -> math.sqrt(rs.map(_._3).sum) }
    val feats = nz.groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSet }
    var covered = Set.empty[String]
    var left = feats.keySet
    if (picks.size != math.min(b, left.size))
      return Some(s"SP-LIME picked ${picks.size} instances, expected ${math.min(b, left.size)}")
    picks.zipWithIndex.iterator.map { case ((id, reported), round) =>
      def gain(i: Long) = feats(i).diff(covered).toSeq.map(imp).sum
      val err =
        if (!left(id)) Some(s"SP-LIME round $round picked $id, which is not pickable")
        else {
          val best = left.iterator.map(gain).max
          val g = gain(id)
          if (g < best - tol * math.max(1.0, best))
            Some(s"SP-LIME round $round picked $id with gain $g, the best gain is $best")
          else if (math.abs(reported - g) > tol * math.max(1.0, g))
            Some(s"SP-LIME round $round reports gain $reported, recomputed $g")
          else None
        }
      covered ++= feats.getOrElse(id, Set.empty)
      left -= id
      err
    }.collectFirst { case Some(e) => e }
  }
}
