package graft

import org.apache.spark.sql.types.{DataType, DecimalType, StructType}

/** Registry-wide output-canonicalization guard (VERDICT r11 #2).
  *
  * The driver hash-compares each `SparkEntry.queries` result (dumped to
  * parquet) against the DuckDB oracle, and canonicalizes edge DECIMALs
  * differently between the two engines — so a query whose FINAL schema
  * contains a DecimalType can hash-mismatch even when every value is
  * exactly equal (r11: `customer_rfm`, `incremental_agg`,
  * `nation_revenue_ranks`). The repo convention is: sum/aggregate as
  * DECIMAL(18,2) internally (exact, associative), cast to rounded DOUBLE
  * only at the output edge (Windows.scala `rollingSpend30d`,
  * Quantiles.scala `rollupRevenue`). This spec makes any future
  * edge-decimal entry fail at `sbt test` time instead of burning a
  * driver round. Nested struct/array/map fields are checked too. */
class OutputSchemaSpec extends SparkSpec {

  private def decimalPaths(dt: DataType, path: String): Seq[String] = dt match {
    case _: DecimalType => Seq(path)
    case st: StructType =>
      st.fields.toSeq.flatMap(f => decimalPaths(f.dataType, s"$path.${f.name}"))
    case at: org.apache.spark.sql.types.ArrayType =>
      decimalPaths(at.elementType, s"$path[]")
    case mt: org.apache.spark.sql.types.MapType =>
      decimalPaths(mt.keyType, s"$path.key") ++ decimalPaths(mt.valueType, s"$path.value")
    case _ => Nil
  }

  /** Every entry's output schema, built on a fresh plain session (no
    * extensions, no registerAll: the shape whbench, Bench and Verify use),
    * with that session's function registry before and after. One pass
    * over the registry serves both tests below. */
  private lazy val (schemas, registryBefore, registryAfter) =
    SparkSpec.withFreshSession() { plain =>
      val registry = plain.sessionState.functionRegistry
      val before = registry.listFunction().toSet
      val schemas = SparkEntry.queries.toSeq.sortBy(_._1).map {
        case (name, fn) => name -> fn(plain, sfDir).schema
      }
      (schemas, before, registry.listFunction().toSet)
    }

  test("no registered query emits DecimalType at the output edge") {
    val offenders = schemas.flatMap { case (name, schema) =>
      schema.fields.toSeq
        .flatMap(f => decimalPaths(f.dataType, f.name))
        .map(p => s"$name: $p")
    }
    assert(offenders.isEmpty,
      s"queries with DECIMAL in output schema (cast to rounded DOUBLE at the edge):\n  ${offenders.mkString("\n  ")}")
  }

  test("building every registry entry leaves the session's function registry unchanged") {
    // the library builds its native kernels as Columns; it never
    // registers, replaces or drops a function on the caller's session
    val added = (registryAfter -- registryBefore).map(_.funcName)
    val removed = (registryBefore -- registryAfter).map(_.funcName)
    assert(added.isEmpty && removed.isEmpty, s"added: $added; removed: $removed")
  }
}
