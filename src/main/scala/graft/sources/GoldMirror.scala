package graft.sources

import java.util.Properties
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** S10 — relational gold mirror (reference: process_test_data.py:62-104
  * writes every gold frame into the local-dev Postgres;
  * local-development/sql/init.sql:5-112 is the receiving DDL).
  *
  * The engine's gold marts carry amounts as doubles; the reference DDL
  * types money as DECIMAL(15,2) (init.sql:59-60) and quality scores as
  * DECIMAL(5,2) (init.sql:91). [[withJdbcTypes]] applies that mapping
  * with one deliberate deviation: PERCENTAGE/ratio columns also get the
  * wide DECIMAL(15,2), not the DDL's narrow type, because the engine's
  * variance percentages are unbounded and a 5,2 cast would overflow to
  * NULL — only bounded 0..100 scores take DECIMAL(5,2). The default
  * deployment has no database (zero-egress): calling [[mirror]] with a
  * JDBC URL is the opt-in.
  *
  * Scale note: a JDBC mirror is for the DASHBOARD slice of gold (small
  * per-day aggregates), never the lake body — partitioned parquet remains
  * the system of record; this sink exists for reference parity with the
  * local-dev Postgres mirror.
  */
object GoldMirror {

  /** Reference-DDL column typing: every double becomes DECIMAL(15,2)
    * (money, init.sql:59-60) unless its name marks it a quality SCORE —
    * the one family the DDL types DECIMAL(5,2) (init.sql:91) because
    * scores are bounded 0..100 by construction. Percentages/ratios stay
    * DECIMAL(15,2): variance percentages are UNBOUNDED (a tiny denominator
    * yields thousands of percent) and a 5,2 cast would overflow to NULL,
    * silently dropping the very signal the mart surfaces.
    */
  def withJdbcTypes(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType =>
          val t =
            if (f.name.toLowerCase.contains("score")) DecimalType(5, 2)
            else DecimalType(15, 2)
          col(f.name).cast(t).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** Append one frame to a JDBC table with reference-DDL typing. String
    * columns are created as VARCHAR(255) (init.sql types every identifier
    * VARCHAR(50..255)); the driver default would be TEXT/CLOB, which some
    * engines (Derby included) refuse to compare in pushed-down filters.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
      properties: Properties = new Properties(),
      mode: SaveMode = SaveMode.Append): Unit = {
    val typed = withJdbcTypes(df)
    val varchars = typed.schema.fields
      .filter(_.dataType.typeName == "string")
      .map(f => s"${f.name} VARCHAR(255)")
      .mkString(", ")
    val writer = typed.write.mode(mode)
    val withTypes =
      if (varchars.nonEmpty) writer.option("createTableColumnTypes", varchars)
      else writer
    withTypes.jdbc(url, table, properties)
  }

  /** Mirror of a mart map (as produced by X12Gold.allMarts): appends each
    * mart to the JDBC table of its name. Returns the table names written,
    * in sorted order.
    */
  def mirror(marts: Map[String, DataFrame], url: String,
      properties: Properties = new Properties()): Seq[String] =
    marts.toSeq.sortBy(_._1).map { case (table, df) =>
      writeJdbc(df, url, table, properties)
      table
    }
}
