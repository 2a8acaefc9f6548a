package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}

package object tables {

  /** Last-writer-wins by key over same-schema parts: of the rows sharing
    * `keyCols`, the one from the LATEST part survives. The one place that
    * knows the priority column; it never reaches the output. */
  def lastWriterWins(parts: Seq[DataFrame], keyCols: Seq[String]): DataFrame = {
    val all = parts.zipWithIndex
      .map { case (p, i) => p.withColumn("_pi", lit(i)) }
      .reduce(_ unionByName _)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("_pi").desc)
    all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_pi", "_rn")
  }
}
