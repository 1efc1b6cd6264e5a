package graft.core

/** Build-time serializable description of a stage graph.
  *
  * Mirrors the reference's `Node`/`Flow` schema tree (`schema.go:272-277`,
  * `schema.go:105-241`): a descriptive, JSON-exportable view of the
  * *pipeline* topology. It complements `df.queryExecution` — ours describes
  * the user-facing stage graph, Catalyst's describes the optimized query.
  */
final case class PlanNode(
    kind: String,
    id: StageId,
    children: Seq[PlanNode] = Nil,
    attrs: Map[String, String] = Map.empty
) {

  /** Depth-first walk, parent before children (`schema.go:336-358`). */
  def walk(f: PlanNode => Unit): Unit = {
    f(this)
    children.foreach(_.walk(f))
  }

  def find(p: PlanNode => Boolean): Option[PlanNode] = {
    var out: Option[PlanNode] = None
    walk(n => if (out.isEmpty && p(n)) out = Some(n))
    out
  }

  def findByName(name: String): Option[PlanNode] = find(_.id.name == name)

  def findByKind(kind: String): Seq[PlanNode] = {
    val buf = Seq.newBuilder[PlanNode]
    walk(n => if (n.kind == kind) buf += n)
    buf.result()
  }

  def count: Int = {
    var c = 0
    walk(_ => c += 1)
    c
  }

  /** Compact JSON (no external deps; values escaped). */
  def toJson: String = {
    import PlanNode.{escape => esc}
    val attrJson =
      if (attrs.isEmpty) ""
      else
        attrs.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
          .mkString(""","attrs":{""", ",", "}")
    val childJson =
      if (children.isEmpty) ""
      else children.map(_.toJson).mkString(""","children":[""", ",", "]")
    s"""{"kind":"${esc(kind)}","name":"${esc(id.name)}"$attrJson$childJson}"""
  }
}

object PlanNode {

  /** `s` escaped for the inside of a JSON string literal. */
  def escape(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }
}
