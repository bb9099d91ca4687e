package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The actions of one commit of a local Delta table, for suites that
  * assert on what a commit wrote.
  */
object CommitActions {
  private val mapper = new ObjectMapper()

  /** Commit `v`'s actions at `root` as (kind, body), in log order. */
  def apply(root: String, v: Long): Seq[(String, JsonNode)] = {
    val f = new java.io.File(new java.io.File(root, "_delta_log"), f"$v%020d.json")
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").filter(_.trim.nonEmpty).toSeq.map { l =>
        val n = mapper.readTree(l)
        val k = n.fieldNames().next()
        k -> n.get(k)
      }
  }
}
