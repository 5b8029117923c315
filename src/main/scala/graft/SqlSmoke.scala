package graft

import org.apache.spark.sql.SparkSession

/** SQL-surface smoke: builds a session with GraftExtensions and checks that
  * the injected SQL functions agree with the Column API on real data.
  * Usage: runMain graft.SqlSmoke [sfDir]
  */
object SqlSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // the library front door — proves spark.sql.extensions wiring end-to-end
    val spark = GraftSession.local(cores = 4, appName = "graft-sql-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._

    Tables.documents(spark, sfDir).createOrReplaceTempView("documents")
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("embeddings")

    val viaSql = spark.sql(
      """SELECT doc_id, simhash(split(text, ' '), 16) AS sh,
        |       minhash_signature(split(text, ' '), 8) AS sig
        |FROM documents ORDER BY doc_id""".stripMargin).collect()
    val viaCol = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextHashExprs.simhash_expr(split(col("text"), " ", -1), 16).as("sh"),
        graft.functions.TextHashExprs.minhash_signature(split(col("text"), " ", -1), 8).as("sig"))
      .orderBy("doc_id").collect()
    val hashOk = viaSql.zip(viaCol).forall { case (a, b) =>
      a.getLong(1) == b.getLong(1) && a.getSeq[Long](2) == b.getSeq[Long](2)
    }

    val statsSql = spark.sql(
      "SELECT channel_stats(embedding, 64) AS s FROM embeddings").head()
      .getSeq[org.apache.spark.sql.Row](0)

    // vec family + grid_rot90 through SQL, checked against the Column API;
    // the nested layout (rows sliced from the flat embedding) must flatten
    // to the flat rotation
    val vecSql = spark.sql(
      """SELECT vec_dot(embedding, embedding) AS d,
        |       vec_dist_sq(embedding, embedding) AS z,
        |       grid_rot90(embedding, 8, 1) AS r,
        |       flatten(grid_rot90(
        |         transform(sequence(0, 7), i -> slice(embedding, i * 8 + 1, 8)), 8, 1)) AS rn
        |FROM embeddings ORDER BY vec_id LIMIT 5""".stripMargin).collect()
    val vecCol = Tables.embeddings(spark, sfDir)
      .select(graft.functions.Tensors.dot(col("embedding"), col("embedding")).as("d"),
        graft.functions.Tensors.rot90Flat(col("embedding"), 8, 1).as("r"))
      .orderBy("vec_id").limit(5).collect()
    val vecOk = vecSql.zip(vecCol).forall { case (a, b) =>
      a.getDouble(0) == b.getDouble(0) && a.getDouble(1) == 0.0 &&
        a.getSeq[Float](2) == b.getSeq[Float](1) && a.getSeq[Float](3) == b.getSeq[Float](1)
    }

    println(s"SQL_SMOKE hash_parity=$hashOk vec_parity=$vecOk rows=${viaSql.length} " +
      s"stats_dims=${statsSql.length} mean0=${statsSql.head.getDouble(0)}")
    spark.stop()
  }
}
