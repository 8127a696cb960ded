package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A Spark-only program run once at build time to record a class-data
  * sharing archive of the Spark, Hadoop and Scala classes a run loads;
  * runs map that archive instead of loading those classes from jars. */
object Warm {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.range(0, 20000, 1, 2)
      .select(col("id"), (col("id") % 7).as("k"), xxhash64(col("id")).as("h"),
        date_add(lit("1992-01-01").cast("date"), (col("id") % 300).cast("int")).as("d"),
        (col("id") / 100).cast("decimal(12,2)").as("p"))
    df.sortWithinPartitions("d").write.mode("overwrite").parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    t.filter(col("d") > lit("1992-03-01").cast("date")).groupBy("k")
      .agg(sum("p"), avg("p"), count(lit(1)), min("d")).collect()
    t.join(t.select(col("k").as("k2"), col("h").as("h2")), col("k") === col("k2")).agg(count(lit(1))).collect()
    t.select(split(concat_ws(" ", col("k"), col("h")), " ").as("a")).select(explode(col("a"))).distinct().collect()
    spark.stop()
  }
}
