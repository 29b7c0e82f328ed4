package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.core.CacheScope

/** Reference-output dump for `oracle.py`: every checked query's output as
  * parquet under `<dir>/<name>/` plus `oracle_sql.json` (the layout
  * `scripts/check.py` reads), and `digests.json` with each output's row
  * count and [[Check.digest]].
  */
object Dump {
  def run(spark: SparkSession, dataDir: String, dir: Path): Unit = {
    Files.createDirectories(dir)
    val digests = Workloads.checked.map { name =>
      val df = SparkEntry.queries(name)(spark, dataDir)
      df.write.mode("overwrite").parquet(dir.resolve(name).toString)
      val rows = df.collect()
      CacheScope.releaseAll()
      s"  ${Json.str(name)}: {\"rows\": ${rows.length}, \"digest\": ${Json.str(Check.digest(rows, df.schema))}}"
    }
    Files.write(dir.resolve("digests.json"), Seq(digests.mkString("{\n", ",\n", "\n}")).asJava)
    val oracles = Workloads.checked.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
      .map { case (n, sql) => s"${Json.str(n)}: ${Json.str(sql)}" }
    Files.write(dir.resolve("oracle_sql.json"), Seq(oracles.mkString("{\n", ",\n", "\n}")).asJava)
  }
}
