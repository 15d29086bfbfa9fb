package graft.perfbench

/** The hot catalog entries: the ones ROADMAP names as targets, from the
  * extension, streaming and ops layers the pipeline never touches. Entries
  * built on the memoized IVF-PQ fixture are left out: repeated runs of
  * those time only the memo hit.
  */
object Catalog {
  val Entries: Seq[String] = Seq("q260_filtered_ann", "q255_incremental_decontam",
    "q189_paragraph_scrub", "q113_stream_table_changes", "q89_stream_sessionize")

  /** Tables the entries read. */
  val Tables: Seq[String] = Seq("documents", "embeddings", "events", "orders")

  /** Copy the entries' input tables under `dir`. They are the bundled
    * sf0.01 tables, the same for every seed: the entries' results, and so
    * their oracle checks, depend on nothing else.
    */
  def prepare(srcDir: String, dir: String): Unit =
    Tables.foreach { t =>
      val to = java.nio.file.Paths.get(s"$dir/$t.parquet")
      java.nio.file.Files.createDirectories(to)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$srcDir/$t.parquet"),
        to.resolve("part-0.parquet"))
    }
}
