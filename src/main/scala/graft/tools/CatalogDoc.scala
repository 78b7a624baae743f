package graft.tools

/** CATALOG.md generator — the catalog IS the engine's public query
  * surface (260 entries), but discoverability was via source. This
  * renders one line per `CatalogEntry` of `SparkEntry.modules`: id,
  * oracle kind (hash = DuckDB hash-compare gate; rows-only = sanctioned
  * twin-gated, SURVEY §7.4), owning catalog object, and the entry's
  * one-line contract (reference-script citations inline where the entry
  * mirrors one).
  *
  * Drift is CI-enforced by CatalogDocSpec: a stale committed CATALOG.md
  * fails the suite. Regenerate with `sbt "runMain graft.tools.CatalogDoc"`.
  */
object CatalogDoc {

  /** Thematic sections, assigned by first matching prefix rule. */
  private val sections: Seq[(String, String => Boolean)] = Seq(
    "Scans, sinks & lakehouse" -> (n => n.startsWith("s") && !n.startsWith("sql_") && !n.startsWith("sim_")),
    "Predicates & projections" -> (_.startsWith("p")),
    "Joins" -> (_.startsWith("j")),
    "Aggregations & analytics" -> (n => n.startsWith("a") || n == "q1_agg"),
    "Windows & top-k" -> (_.startsWith("w")),
    "Set operations" -> (_.startsWith("u")),
    "Scalar functions" -> (_.startsWith("f")),
    "Recommenders" -> (_.startsWith("rec_")),
    "Sampling & splits" -> (_.startsWith("r")),
    "SQL surface (TPC-H + extensions)" -> (_.startsWith("sql_")),
    "Graph algorithms" -> (n => n.startsWith("g")),
    "ML lifecycle" -> (n => n.startsWith("m") && !n.startsWith("mm")),
    "Deduplication" -> (_.startsWith("d")),
    "Text pipeline" -> (_.startsWith("t")),
    "Similarity & ANN" -> (_.startsWith("sim_")),
    "Streaming & incremental" -> (_.startsWith("e")),
    "Multimodal" -> (_.startsWith("mm")))

  private def sectionOf(name: String): String =
    sections.find(_._2(name)).map(_._1).getOrElse("Other")

  def render(): String = {
    val rows = for (m <- graft.SparkEntry.modules; e <- m.entries)
      yield (e, m.getClass.getSimpleName.stripSuffix("$"))
    val bySection = rows.groupBy { case (e, _) => sectionOf(e.id) }
    val sb = new StringBuilder
    sb ++= "# Catalog — the engine's query surface\n\n"
    sb ++= ("Generated from `SparkEntry.queries` by `graft.tools.CatalogDoc`; " +
      "drift-checked by `CatalogDocSpec`. " +
      s"${rows.size} entries, ${rows.count(_._1.oracle.isDefined)} hash-gated " +
      "(DuckDB oracle compare), the rest rows-only by sanctioned design " +
      "(SURVEY §7.4) with a named hash-gated twin.\n\n")
    sb ++= ("Run one entry: `SparkEntry.queries(id)(spark, sfDir)`. " +
      "`ref <file>` cites the reference script the entry mirrors; " +
      "implementation citations live in the owning object's Scaladoc.\n")
    val sectionOrder = sections.map(_._1) :+ "Other"
    sectionOrder.foreach { sec =>
      bySection.get(sec).foreach { entries =>
        sb ++= s"\n## $sec\n\n| id | oracle | owner | contract |\n|---|---|---|---|\n"
        entries.sortBy(_._1.id).foreach { case (e, owner) =>
          val kind = if (e.oracle.isDefined) "hash" else "rows-only"
          sb ++= s"| `${e.id}` | $kind | $owner | ${e.contract} |\n"
        }
      }
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("CATALOG.md")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      render().getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[catalogdoc] wrote $out (${graft.SparkEntry.queries.size} entries)")
  }
}
