package graft.perfbench

/** Records the query suite's expected outputs from a `graft.Verify` dump
  * (one parquet directory per row) whose rows all passed
  * `tools/check_oracle.py`: row count and schema per row, one TSV line
  * each, the incremental-drive rows left out.
  *
  * Usage: RecordExpect <verifyDumpDir> <out.tsv>
  */
object RecordExpect {
  def main(args: Array[String]): Unit = {
    val Array(dump, out) = args
    val spark = Main.session(System.getProperty("java.io.tmpdir"))
    try {
      val lines = graft.queries.Registry.all.map(_.name)
        .filterNot(QuerySuite.Excluded).sorted.map { name =>
          val dir = new java.io.File(dump, name)
          require(!new java.io.File(dir, "_ERROR.txt").exists, s"$name failed in $dump")
          val df = spark.read.parquet(dir.getPath)
          s"$name\t${df.count()}\t${Expect.schemaOf(df.schema)}"
        }
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (lines.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
