package perfbench

import scala.collection.mutable

/** Plain-Scala recomputation of the rollup and the stat plans, from the
  * generator's data alone: no Spark, no program code path. The stat
  * semantics follow the reference's `pyspark_stats.py`.
  */
object Expect {
  /** One landmark of the rollup: distinct images and per-class sums. */
  final case class Landmark(images: Long, sums: Map[Int, Long])

  type Table = Seq[Seq[Any]]

  /** Rolls (landmark, per-image class histogram) rows up per landmark. A
    * landmark whose images carry no class at all has no rollup row (the
    * program inner-joins class sums with image counts).
    */
  def rollup(rows: Iterator[(String, Map[Int, Long])]): Map[String, Landmark] = {
    val imgs = mutable.HashMap.empty[String, Long]
    val sums = mutable.HashMap.empty[String, mutable.HashMap[Int, Long]]
    rows.foreach { case (l, hist) =>
      imgs(l) = imgs.getOrElse(l, 0L) + 1
      hist.foreach { case (c, n) =>
        val m = sums.getOrElseUpdate(l, mutable.HashMap.empty)
        m(c) = m.getOrElse(c, 0L) + n
      }
    }
    sums.map { case (l, m) => l -> Landmark(imgs(l), m.toMap) }.toMap
  }

  final class Stats(rollup: Map[String, Landmark], names: Map[String, String]) {
    private val joined: Seq[(String, Landmark)] =
      rollup.toSeq.flatMap { case (l, lm) => names.get(l).map(_ -> lm) }
    private def c(lm: Landmark, cls: Int) = lm.sums.getOrElse(cls, 0L)
    private def total(ls: Seq[(String, Landmark)], cls: Int) = ls.map(x => c(x._2, cls)).sum
    private def avg(ls: Seq[(String, Landmark)], cls: Int): Double = {
      val d = ls.map(_._2.images).sum
      if (d == 0) 0.0 else total(ls, cls).toDouble / d.toDouble
    }

    /** letter, count, avg_per_image */
    def alphabet(cls: Int): Table =
      joined.groupBy(_._1.substring(0, 1).toUpperCase).toSeq.sortBy(_._1)
        .map { case (k, ls) => Seq(k, total(ls, cls), avg(ls, cls)) }

    /** city, avg_per_image; only cities some landmark name contains */
    def city(cls: Int): Table =
      graft.images.StatsPipeline.Cities.sorted.flatMap { city =>
        val ls = joined.filter(_._1.contains(city))
        if (ls.isEmpty) None else Some(Seq(city, avg(ls, cls)))
      }

    /** band, avg_per_image */
    def nameLength(cls: Int): Table =
      joined.groupBy { case (n, _) =>
        if (n.length < 10) "under_10_chars"
        else if (n.length <= 20) "between_10_and_20_chars" else "over_20_chars"
      }.toSeq.sortBy(_._1).map { case (b, ls) => Seq(b, avg(ls, cls)) }

    /** metric, value: all landmarks vs names containing the keyword */
    def keyword(cls: Int, kw: String = "people"): Table = Seq(
      Seq("avg_all", avg(joined, cls)),
      Seq(s"avg_${kw}_places", avg(joined.filter(_._1.toLowerCase.contains(kw)), cls)))
  }

  def sameValue(a: Any, e: Any): Boolean = (a, e) match {
    case (x: Number, y: Number) if !x.isInstanceOf[java.lang.Double] && !y.isInstanceOf[java.lang.Double] =>
      x.longValue == y.longValue
    case (x: Number, y: Number) =>
      val (p, q) = (x.doubleValue, y.doubleValue)
      math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q))
    case _ => a == e
  }

  def sameTable(actual: Table, expected: Table): Boolean =
    actual.size == expected.size && actual.zip(expected).forall { case (a, e) =>
      a.size == e.size && a.zip(e).forall { case (x, y) => sameValue(x, y) }
    }
}
