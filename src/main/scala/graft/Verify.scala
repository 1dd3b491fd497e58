package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in an oracle SQL string would otherwise
    * make a JSON reader reject the whole oracle file. Bench's
    * artifact line uses it too. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing args: run only these query names (dev aid; the
    // driver always passes exactly two args so this is a no-op for it)
    val only = args.drop(2).toSet
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    val rowCounts = scala.collection.mutable.Map.empty[String, Long]
    selected.foreach { case (name, fn) =>
      // pre-delete so a failing query can never leave a stale result
      // from an earlier run for the comparator to "pass" against
      val target = new java.io.File(s"$outDir/$name")
      if (target.exists()) {
        import scala.reflect.io.Directory
        new Directory(target).deleteRecursively()
      }
      try {
        // repartition(1), NOT coalesce(1): coalesce folds into the
        // parent stage, so a shuffle-free plan (scan→filter→project)
        // would execute the ENTIRE query in one task — measured at
        // sf1 as a single thread md5-filtering the whole corpus for
        // minutes. repartition adds one exchange: upstream stays
        // parallel, only the single-file write is serial. The
        // round-robin exchange DOES change row order vs coalesce(1);
        // that is immaterial only because the driver's gate sorts
        // rows before the exact compare — a consumer of these parquet
        // dumps must not assume deterministic row order.
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        rowCounts(name) = spark.read.parquet(s"$outDir/$name").count()
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Rows-only queries have no DuckDB oracle; their PINNED sf0.01
    // row counts ship as an artifact the driver can rows-gate
    // against, and drift fails loud right here at the verify scale —
    // a nonzero exit, not just a stderr line, plus a machine-readable
    // rows_gate.json (query → expected/actual/pass) in the dump.
    var rowsGateFailures = 0
    if (sfDir.replaceAll("/+$", "").endsWith("sf0.01")) {
      val verdicts = SparkEntry.expectedRows.toSeq.sortBy(_._1).flatMap {
        case (name, want) =>
          rowCounts.get(name).map { got =>
            val pass = got == want
            if (!pass) {
              rowsGateFailures += 1
              System.err.println(
                s"[verify] EXPECTED-ROWS MISMATCH $name: got $got, pinned $want")
            } else System.err.println(s"[verify] rows-gate ok $name: $got")
            s""""$name": {"expected": $want, "actual": $got, "pass": $pass}"""
          }
      }
      if (verdicts.nonEmpty) {
        Files.writeString(Paths.get(s"$outDir/rows_gate.json"),
          verdicts.mkString("{", ",", "}"))
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // expected sf0.01 row counts for the rows-only set, next to the
    // oracle SQL so the driver can rows-gate what it cannot hash-gate
    // (full dumps only — a partial dev dump isn't the driver shape)
    if (only.isEmpty) {
      val er = SparkEntry.expectedRows.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jsonString(k)}: $v" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/expected_rows.json"), er)
    }
    spark.stop()
    if (rowsGateFailures > 0) {
      System.err.println(s"[verify] $rowsGateFailures rows-gate failure(s)")
      sys.exit(1)
    }
  }
}
