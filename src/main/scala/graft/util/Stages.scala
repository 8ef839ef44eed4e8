package graft.util

/** Prop-gated (graft.bench.stages) stage timer for operator-internal
  * segments — the one timer the text/dedup pipelines, the versioned-table
  * write ops, the fixture choreographies and the ANN queries share:
  * prints `bench-stage <group> <seg> <sec>` so a composition regression
  * names its SEGMENT (shingle pass vs candidate join vs verification),
  * not just the query total. Zero cost when the property is unset; plain
  * text above the bench machine line, never in the JSON. */
object Stages {
  @inline def on: Boolean =
    sys.props.get("graft.bench.stages").contains("true")

  def time[T](group: String, seg: String)(body: => T): T =
    if (on) {
      val t0 = System.nanoTime()
      try body finally emit(group, seg, (System.nanoTime() - t0) / 1e9)
    } else body

  /** The same line as [[time]] for operators that time their own stages
    * and report through an `(seg, seconds)` callback (e.g. `IvfPq`'s
    * `onStage`). A no-op when the property is unset. */
  def hook(group: String): (String, Double) => Unit =
    if (on) (seg, sec) => emit(group, seg, sec) else (_, _) => ()

  private def emit(group: String, seg: String, sec: Double): Unit =
    println("bench-stage " + group + " " + seg + " " + Fmt.fmt("%.3f", sec))
}
