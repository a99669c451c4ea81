package graft.models

/** User-facing loader entry point mirroring the reference CLI's
  * `process_files` command (tpcdi.py:46-77): ingest a DIGen Batch1
  * directory, then either `--show` a sample of each table (the
  * reference's development flow) or persist it as parquet.
  *
  * Usage:
  *   runMain graft.models.LoaderCli <batchDir> [--table NAME] [--show] [--out DIR]
  *                                  [--batch2 DIR]
  *
  *   --table NAME  process one source table (default: all 17)
  *   --show        print a 20-row sample instead of writing
  *   --out DIR     write each table to DIR/NAME (parquet; default /tmp/graft_wh),
  *                 swapped in atomically (Warehouse.publish)
  *   --batch2 DIR  incremental refresh: apply the delta batch in DIR to
  *                 the Batch1 warehouse via Warehouse.applyBatchDirs and
  *                 show/write the refreshed MODELS instead of the raw
  *                 source tables (the reference's named future work,
  *                 README.md:325)
  *   --batch3 DIR  with --batch2: chain a second delta batch on top of
  *                 the refreshed warehouse (Warehouse.applyBatchDirs —
  *                 the full TPC-DI batch sequence, gate q49)
  */
object LoaderCli {
  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--"))
    require(positional.nonEmpty,
      "usage: LoaderCli <batchDir> [--table NAME] [--show] [--out DIR]")
    val batchDir = positional.head
    def opt(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val table = opt("--table")
    val show = args.contains("--show")
    val out = opt("--out").getOrElse("/tmp/graft_wh")

    val spark = graft.Session()

    val tables = (opt("--batch2"), opt("--batch3")) match {
      case (Some(d2), d3) =>
        Warehouse.applyBatchDirs(spark, batchDir, Seq(d2) ++ d3)
      case (None, Some(_)) =>
        sys.error("--batch3 requires --batch2 (batches apply in order)")
      case (None, None) => Loader.loadAll(spark, batchDir)
    }
    val selected = table.fold(tables)(n =>
      tables.filter { case (k, _) => k == n }.ensuring(_.nonEmpty, s"unknown table $n; " +
        s"known: ${tables.keys.toSeq.sorted.mkString(", ")}"))
    selected.toSeq.sortBy(_._1).foreach { case (name, df) =>
      if (show) { println(s"== $name"); df.show(20, truncate = false) }
      else {
        Warehouse.publish(spark, out)(name, df)
        println(s"wrote $out/$name")
      }
    }
    spark.stop()
  }
}
