package graft.streaming

/** Control-stream parameter parsing — the reference's runtime
  * re-parameterization channel (reference: jobs/clustering/
  * ClusteringParameter.scala:41-62 — a watched text file yields lines
  * `k=4`, `decay=0.2`, `label:<i>=<text>`, comments `#...`; malformed
  * lines route to an error sink: UnusualActivityDetectionJob.scala:172-225,
  * R2 Either-routing).
  *
  * In Spark the channel is a file-streaming source over a control
  * directory (S5): new files are picked up per micro-batch; parsed params
  * flow into stateful operators via their state (or a small broadcast
  * table), parse errors to a dead-letter sink.
  */
object ControlParams {

  sealed trait Parsed
  final case class K(value: Int) extends Parsed
  final case class Decay(value: Double) extends Parsed
  final case class Label(cluster: Int, text: String) extends Parsed
  final case class ParseError(line: String, reason: String) extends Parsed

  private val KRe = """\s*k\s*=\s*(\d+)\s*""".r
  private val DecayRe = """\s*decay\s*=\s*([0-9.eE+-]+)\s*""".r
  private val LabelRe = """\s*label\s*:\s*(\d+)\s*=\s*(.+?)\s*""".r
  private val CommentRe = """\s*(#.*)?""".r

  /** line → 0..1 parsed params or an error (comments/blank → nothing).
    * Numeric conversions use `toIntOption`: an overflowing `k=99999999999`
    * routes to [[ParseError]] (the dead-letter contract) instead of
    * throwing inside the stream task. So does `k=0`: a model needs at least
    * one centroid, and the clustering state function would throw on it. */
  def parse(line: String): Option[Parsed] = line match {
    case CommentRe(_)   => None
    case KRe(v)         =>
      v.toIntOption.filter(_ >= 1).map(K(_)).orElse(Some(ParseError(line, "k out of range")))
    case DecayRe(v)     =>
      v.toDoubleOption.map(Decay(_)).orElse(Some(ParseError(line, "bad decay")))
    case LabelRe(i, t)  =>
      i.toIntOption.map(Label(_, t)).orElse(Some(ParseError(line, "cluster out of range")))
    case other          => Some(ParseError(other, "unrecognized parameter"))
  }
}
