package graft.tools

import graft.Sessions

/** Smoke for the `spark.sql.extensions=graft.GraftExtensions` config
  * path (constructor injection — only applies to a session built with
  * the config, hence a standalone main rather than a shared-fixture
  * spec). Proves SQL can call the native functions with zero
  * imperative registration.
  */
object ExtensionsSmoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.start(2,
      "spark.app.name" -> "graft-ext-smoke",
      "spark.sql.extensions" -> "graft.GraftExtensions")
    val row = spark.sql(
      """SELECT cosine_similarity(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS c,
                dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d""")
      .collect().head
    println(s"[ext-smoke] cosine=${row.getDouble(0)} dot=${row.getDouble(1)}")
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-15)
    assert(row.getDouble(1) == 11.0)
    val row2 = spark.sql(
      """SELECT rolling_hash('abc') AS rh,
                canonicalize_json('{"b":2,"a":1}') AS cj,
                size(shingle_hashes('a b c d', 3)) AS ns,
                size(minhash_signature(shingle_hashes('a b c d'), 16)) AS np""")
      .collect().head
    println(s"[ext-smoke] rh=${row2.getLong(0)} cj=${row2.getString(1)} " +
      s"ns=${row2.getInt(2)} np=${row2.getInt(3)}")
    assert(row2.getString(1) == """{"a":1.0,"b":2.0}""")
    assert(row2.getInt(2) == 2 && row2.getInt(3) == 16)
    // Spark's chr/char is ASCII-only (mod 256), so the combining
    // diaeresis is embedded as a literal, not built with char()
    val row3 = spark.sql(
      s"""SELECT nfc_normalize('cafë') AS n,
                space_saving(x, 4) AS hh
         FROM VALUES ('a'), ('a'), ('b') AS t(x)""")
      .selectExpr("n", "hh[0].item AS top", "hh[0].est AS est")
      .collect().head
    println(s"[ext-smoke] nfc_len=${row3.getString(0).length} " +
      s"top=${row3.getString(1)}:${row3.getLong(2)}")
    assert(row3.getString(0) == "cafë") // e + combining diaeresis → ë
    assert(row3.getString(1) == "a" && row3.getLong(2) == 2L)
    spark.stop()
  }
}
