package graftbench

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.codec.{ConnectJson, Debezium}
import graft.functions.{BleuGrams, DotProduct, GramRunStats, SignCode, TokenHash}

/** Timed calls into the codec and functions modules over generated,
  * cached columns, each written to the noop sink. Reported as wall
  * nanoseconds per row, median of three runs, in traced runs only. */
object Micro {
  private val Rows = 50000L
  private val Dim = 64

  private def nsPerRow(spark: SparkSession, name: String, df: DataFrame,
                       out: ObjectNode): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"micro:$name", name, interruptOnCancel = false)
    val runs = (0 until 3).map { _ =>
      val t0 = Main.nowMs()
      df.write.format("noop").mode("overwrite").save()
      (t0, Main.nowMs())
    }
    sc.clearJobGroup()
    val n = out.putObject(name)
    n.put("ns_per_row", runs.map { case (a, b) => (b - a) * 1e6 / Rows }.sorted.apply(1))
    n.put("start_ms", runs.head._1)
    n.put("end_ms", runs.last._2)
  }

  def run(spark: SparkSession, out: ObjectNode): Unit = {
    val m = out.putObject("micro")
    val id = col("id")
    val users = spark.range(Rows).select(
      id.cast("int").as("id"),
      concat(lit("Name_"), id.cast("string")).as("name"),
      timestamp_millis(lit(1735689600000L) + id * 1000).as("updated_at"),
      repeat(substring(sha2(id.cast("string"), 256), 1, 30), 10).as("private_info"))
      .cache()
    val vocab = array("fast spark line small customer group value hash batch sort data big filter dup key agg scan slow table part a merge window order column join vector row the query stream"
      .split(" ").toIndexedSeq.map(lit): _*)
    def vec(salt: Int): Column =
      array((0 until Dim).map(i => sin(id * (i + salt)).cast("double")): _*)
    val cols = spark.range(Rows).select(
      vec(1).as("a"), vec(2).as("b"),
      transform(sequence(lit(0), lit(39)), i => element_at(vocab, (pmod(id * 7 + i * 13, lit(31)) + 1).cast("int"))).as("toks"))
      .withColumn("tok", element_at(col("toks"), 1))
      .cache()
    val cdcRow = StructType.fromDDL("id INT, name STRING, updated_at BIGINT, private_info STRING")
    val envelopes = users.select(to_json(struct(
      lit(null).cast(cdcRow).as("before"), struct(col("id"), col("name"),
        unix_millis(col("updated_at")).as("updated_at"), col("private_info")).as("after"),
      lit("c").as("op"), unix_millis(col("updated_at")).as("ts_ms"))).as("value"))
      .cache()
    users.count(); cols.count(); envelopes.count()

    val usersSchema = StructType(users.schema.fields)
    val planes = Array.tabulate(16, Dim)((p, d) => if (((p * 31 + d * 17) & 4) == 0) 1 else -1)
    nsPerRow(spark, "codec.encode", users.select(ConnectJson.encodeEnvelope(usersSchema, "users")), m)
    nsPerRow(spark, "codec.unwrap", Debezium.unwrap(envelopes, "value", cdcRow), m)
    nsPerRow(spark, "functions.DotProduct", cols.select(DotProduct(col("a"), col("b"))), m)
    nsPerRow(spark, "functions.TokenHash", cols.select(TokenHash(col("tok"))), m)
    nsPerRow(spark, "functions.BleuGrams", cols.select(BleuGrams(col("toks"))), m)
    nsPerRow(spark, "functions.GramRunStats", cols.select(GramRunStats(col("toks"))), m)
    nsPerRow(spark, "functions.SignCode", cols.select(SignCode(col("a"), planes)), m)
    users.unpersist(); cols.unpersist(); envelopes.unpersist()
  }
}
