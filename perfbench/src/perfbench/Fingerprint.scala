package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one action every timed operation runs: `count(*)` plus an
  * order-insensitive sum of per-row hashes. Every column feeds the
  * hash, so column pruning cannot skip any projected work (a bare
  * `.count()` lets Catalyst drop it). The sum is `decimal(38,0)`:
  * ANSI mode throws on `long` overflow, and 2^63 per row leaves room
  * for 10^19 rows. Map-typed columns are not hashable and go through
  * `to_json` first. */
object Fingerprint {

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The 1-row (n, hash_sum) frame over `df`. Columns are renamed by
    * position first, so duplicate or odd column names cannot break it. */
  def of(df: DataFrame): DataFrame = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = renamed.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    renamed
      .select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("s"))
  }

  /** `n:sum` — the value compared across repetitions. */
  def render(row: org.apache.spark.sql.Row): String =
    s"${row.getLong(0)}:${Option(row.get(1)).getOrElse("null")}"

  /** Checks the fingerprint's arithmetic on small frames: order does
    * not matter, a changed value or an extra row does, map columns
    * hash, and a sum of large hashes stays exact. Returns failures. */
  def selfTest(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    def fp(df: DataFrame) = render(of(df).collect().head)
    val base = (1 to 2000).map(i => (i.toLong, s"row$i", i * 0.5)).toDF("a", "b", "c")
    val errs = Seq.newBuilder[String]
    if (fp(base) != fp(base.orderBy(col("a").desc).repartition(7)))
      errs += "fingerprint depends on row order"
    if (fp(base) == fp(base.withColumn("c", when(col("a") === 5, 0.0).otherwise(col("c")))))
      errs += "fingerprint ignores a changed value"
    if (fp(base) == fp(base.unionAll(base.limit(1))))
      errs += "fingerprint ignores a duplicated row"
    val maps = Seq((1, Map("k" -> "v")), (2, Map("x" -> "y"))).toDF("i", "m")
    if (!fp(maps).startsWith("2:")) errs += "map column not fingerprinted"
    // exact decimal sum: compare against the sum of the same hashes in
    // BigInt on the driver
    val hs = base.toDF("c0", "c1", "c2")
      .select(xxhash64(col("c0"), col("c1"), col("c2"))).as[Long].collect()
    val want = hs.map(BigInt(_)).sum
    if (fp(base) != s"2000:$want") errs += s"hash sum ${fp(base)} != 2000:$want"
    errs.result()
  }
}
