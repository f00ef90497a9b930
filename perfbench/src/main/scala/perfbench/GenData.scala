package perfbench

import java.nio.file.{Files => JFiles, Paths}

/** Writes the fixed data set and the oracle SQL of every digest-checked
  * query, for `gen_digests.py` to replay in DuckDB. */
object GenData {
  def run(dir: String, benchDir: String): Unit = {
    val out = Paths.get(dir).toAbsolutePath
    val spark = Main.session(out.resolve("work"), 2)
    Data.write(spark, out.toString, Data.rowCounts.keys.toSeq.sorted, Data.FixedSeed)
    val names = SqlMix.queries.keys ++ LlmIndex.probes
    val oracle = graft.SparkEntry.oracleSql
    val json = names.toSeq.sorted.map(n => graft.JsonOut.q(n) + ": " + graft.JsonOut.q(oracle(n)))
      .mkString("{\n", ",\n", "\n}\n")
    JFiles.writeString(out.resolve("oracle_sql.json"), json)
    spark.stop()
  }
}
