package graft.perfbench

import scala.io.Source

/** Expected outputs, one tab-separated record per line:
  *
  *   q  ENTRY  ROWS  HASH             — digest of a query entry's result
  *   q  ENTRY  ROWS  -     REASON     — row count only, and why
  *   v  SEED   ACCURACY  FRAMES       — voice pipeline at a generator seed
  *   s  STORE  LINE                   — one line of a store's answer over
  *                                      all rows ingested as one batch
  *
  * Lines starting with '#' are comments.
  */
final case class Pins(queries: Map[String, (Long, Option[String], String)],
    voice: Map[Long, (Double, Long)], stores: Map[String, Seq[String]])

object Pins {
  def load(path: String): Pins = {
    val src = Source.fromFile(path, "UTF-8")
    val rows = try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t").toSeq).toList finally src.close()
    Pins(
      rows.collect { case Seq("q", name, n, h, rest @ _*) =>
        name -> (n.toLong, Option(h).filter(_ != "-"), rest.mkString(" "))
      }.toMap,
      rows.collect { case Seq("v", seed, acc, frames) =>
        seed.toLong -> (acc.toDouble, frames.toLong)
      }.toMap,
      rows.collect { case Seq("s", store, line) => store -> line }
        .groupMap(_._1)(_._2))
  }
}
