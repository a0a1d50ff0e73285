package graft.tools

/** Minimal downstream-user example: a session wired with
  * `spark.sql.extensions=graft.GraftExtensions` (the config-driven path a
  * cluster would use via spark-submit --conf) answering the custom
  * functions from plain SQL. */
object SqlDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local("graft-sql-demo",
      "spark.sql.extensions" -> "graft.GraftExtensions")
    val row = spark.sql(
      """SELECT simhash(array('a','b')) AS sh,
        |  sorted_jaccard(array('a','b','c'), array('b','c','d')) AS jac,
        |  vector_dot(cast(array(1.0,2.0) as array<float>),
        |             cast(array(3.0,4.0) as array<float>)) AS dot,
        |  size(minhash_sig(array('a','b'), 32)) AS k""".stripMargin).head()
    println(s"SQLDEMO sh=${row.getLong(0)} jac=${row.getDouble(1)} " +
      s"dot=${row.getDouble(2)} k=${row.getInt(3)}")
    val bad = scala.util.Try(
      spark.sql("SELECT minhash_sig(array('a'), 'oops')").head())
    println(s"SQLDEMO badcall=${bad.failed.get.getMessage.linesIterator.next().take(100)}")
    spark.stop()
  }
}
