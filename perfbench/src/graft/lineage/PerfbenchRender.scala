package graft.lineage

/** The `/fetch` response renderer, reachable from the benchmark (it is
  * package-private to `graft.lineage`). */
object PerfbenchRender {
  def toJson(results: Seq[LineageResult]): String = LineageService.toJson(results)
}
