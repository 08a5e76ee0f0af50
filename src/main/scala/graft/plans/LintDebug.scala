package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.plans.logical.{Sort, Window => LWindow}

import graft.SparkEntry

/** Diagnostic main (not a test — lives next to Bench/Verify): prints, for
  * each entry with an unpartitioned Window or interior global sort, the
  * child subtree's shape — to classify bounded vs unbounded when deciding
  * whether a GlobalWindowWhitelist entry is justified.
  *
  * Usage: `runMain graft.plans.LintDebug <sfDir> [entry ...]` — with no
  * entry names, scans the whole registry for unpartitioned windows.
  */
object LintDebug {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: LintDebug <sfDir> [entry ...] (e.g. /root/testdata/sf0.001)")
    val sfDir = args.head
    val names = args.tail.toSet
    val spark = SparkEntry.local()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(e => names.isEmpty || names(e._1))
      .foreach { case (name, q) =>
        try {
          val opt = q(spark, sfDir).queryExecution.optimizedPlan
          val wins = opt.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
          if (wins.nonEmpty) {
            println(s"== $name")
            wins.foreach { w =>
              println(s" win(${w.windowExpressions.map(_.name).mkString(",")})")
              println(w.child.treeString.linesIterator.take(14)
                .map(l => "  " + l.take(150)).mkString("\n"))
            }
          }
          opt.collect { case s: Sort if s.global => s }.drop(1) match {
            case ss if ss.nonEmpty && names(name) =>
              ss.foreach { s =>
                println(s"== $name interior sort")
                println(s.child.treeString.linesIterator.take(14)
                  .map(l => "  " + l.take(150)).mkString("\n"))
              }
            case _ =>
          }
        } catch { case NonFatal(e) => println(s"== $name ERR ${e.getMessage}") }
      }
    spark.stop()
  }
}
