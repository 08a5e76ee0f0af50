package whbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Committed output goldens, one tab-separated line per workload step:
  * `workload  step  rows  digest`. `rows` is the oracle row count where
  * the DuckDB oracle checked the step at sf0.1 and `-` elsewhere; `digest`
  * is the [[Digest]] of the step's output. The seed only reorders the rows
  * of the tables each workload reads, so both must hold at every seed.
  * When an output changes on purpose, the failure line prints the new
  * digest next to the golden, and this file is edited by hand. */
final case class Goldens(lines: Map[(String, String), (Option[Long], Option[Digest.Value])]) {

  /** None when `d` agrees with the golden, else what disagrees. */
  def check(workload: String, step: String, d: Digest.Value): Option[String] =
    lines.get((workload, step)) match {
      case None => Some("no golden digest committed")
      case Some((rows, digest)) =>
        rows.filter(_ != d.rows).map(r => s"$r oracle rows, got ${d.rows}")
          .orElse(digest.filter(_ != d).map(g => s"digest $d, golden $g"))
    }
}

object Goldens {
  private def opt(s: String): Option[String] = Some(s).filter(_ != "-")

  def load(p: Path): Goldens = Goldens(Files.readAllLines(p).asScala.toSeq
    .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).map { f =>
      (f(0), f(1)) -> (opt(f(2)).map(_.toLong), opt(f(3)).map(Digest.parse))
    }.toMap)
}
