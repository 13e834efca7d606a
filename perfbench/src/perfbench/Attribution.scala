package perfbench

/** Call-site → module attribution. A Spark job is charged to the innermost
  * `graft.` frame of the call site that submitted it; the module is the
  * package under `graft` (or the object, for `functions` and the top-level
  * objects). Jobs with no `graft.` frame are `SparkEntry` when the
  * harness's own sink submitted them (the gate's final plan) and
  * `unattributed` otherwise. Cache fills are charged to `GraftCaches` by
  * [[Tracer]], which sees the storage events this object cannot. */
object Attribution {

  val Unattributed = "unattributed"

  /** Every module a job can be charged to, in report order. */
  val modules: Seq[String] = Seq(
    "sources", "kernels", "operators", "plans",
    "functions.Dedup", "functions.Similarity", "functions.Multimodal",
    "functions.BlockedExact", "functions.TextAnalysis", "functions.other",
    "streaming", "GraftCaches", "SparkEntry", "other")

  private val packages = Set("sources", "kernels", "operators", "plans", "streaming")
  private val namedFunctions =
    Set("Dedup", "Similarity", "Multimodal", "BlockedExact", "TextAnalysis")

  /** The class name of one stack-frame line as Spark writes it into a
    * long call site (`app//graft.functions.Dedup$.f(Dedup.scala:12)`). */
  def frameClass(line: String): String = {
    val call = line.trim.stripPrefix("at ").takeWhile(_ != '(')
    val noLoader = call.substring(call.lastIndexOf('/') + 1)
    val dot = noLoader.lastIndexOf('.')
    if (dot < 0) noLoader else noLoader.substring(0, dot)
  }

  /** `Dedup$$anonfun$x$1` and `Dedup$` both name the object `Dedup`. */
  private def objectName(simple: String): String = simple.takeWhile(_ != '$')

  def moduleOfClass(cls: String): String = {
    val parts = cls.stripPrefix("graft.").split('.').toList
    parts match {
      case "functions" :: obj :: _ =>
        val name = objectName(obj)
        if (namedFunctions(name)) s"functions.$name" else "functions.other"
      case pkg :: _ :: _ if packages(pkg) => pkg
      case obj :: Nil if objectName(obj) == "GraftCaches" => "GraftCaches"
      case obj :: Nil if objectName(obj) == "SparkEntry" => "SparkEntry"
      case _ => "other"
    }
  }

  /** Frames of a long call site outside Spark, Scala and the JDK. */
  private def userFrames(callSite: String): Seq[String] =
    callSite.split('\n').toSeq.map(frameClass).filterNot(c =>
      c.startsWith("org.apache.spark.") || c.startsWith("scala.") ||
        c.startsWith("java.") || c.startsWith("jdk.") || c.startsWith("<"))

  /** The module a call site charges: its innermost `graft.` frame, else
    * `SparkEntry` when its first user frame is the harness's sink. None
    * when it has neither, e.g. a job submitted from a Spark thread pool. */
  def moduleOf(callSite: String): Option[String] = {
    val frames = userFrames(callSite)
    frames.find(_.startsWith("graft.")).map(moduleOfClass)
      .orElse(frames.headOption.filter(_.startsWith("perfbench.Ops")).map(_ => "SparkEntry"))
  }
}
