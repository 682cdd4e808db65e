package graft.ai

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** Spark surface for the Doc-AI backend: four scalar functions, exposed
  * both as Column helpers and as registered SQL UDFs. Marked
  * non-deterministic-safe by usage convention: we never place them below
  * user filters (SURVEY §4 item 1) — plan construction order keeps cheap
  * predicates (file-name filters, class filters) under the AI projection.
  *
  * UDFs (not codegen Expressions) are the right call here: each call is
  * "model-inference" priced, so per-row JVM dispatch overhead is noise
  * (SURVEY §2.9). The rest of the plan stays whole-stage-codegen.
  */
object AiFunctions {

  // The backend is CONFIG-SWAPPABLE (default: the hermetic
  // deterministic backend). Every Column helper below captures the
  // current backend BY VALUE into that query's UDF closure, so the
  // chosen instance — which is Serializable by the DocAiBackend
  // contract — ships to executors with the query. That makes the swap
  // cluster-correct: no reliance on driver-side module state being
  // visible on executors.
  @volatile private var backendRef: DocAiBackend = DeterministicLocalBackend

  /** The currently configured backend. */
  def backend: DocAiBackend = backendRef

  /** Swap the Doc-AI backend. Column helpers pick it up on their NEXT
    * construction (per query); SQL-registered UDFs captured the
    * backend at [[register]] time — re-register after a swap if the
    * SQL names must follow it.
    */
  def setBackend(b: DocAiBackend): Unit = { backendRef = b }

  /** Config seam: `spark.graft.ai.backend` = `deterministic` (the
    * default, hermetic) or an http(s) base URL of a Doc-AI protocol
    * server (→ [[HttpDocAiBackend]], the real-model path). Call after
    * session construction; pipelines built afterwards run every
    * ai_* call through the configured backend.
    */
  def configureFrom(spark: SparkSession): Unit =
    spark.conf.get("spark.graft.ai.backend", "deterministic") match {
      case "deterministic" => setBackend(DeterministicLocalBackend)
      case url if url.startsWith("http://") || url.startsWith("https://") =>
        setBackend(new HttpDocAiBackend(url))
      case other => throw new IllegalArgumentException(
        s"spark.graft.ai.backend must be 'deterministic' or an http(s) URL, got '$other'")
    }

  /** What one answerAll yields under the error-as-row contract (X9,
    * app:855-856): None for a null text or prompt map, Left(message)
    * when the backend throws — one bad document keeps the batch alive.
    * Both extract shapes below derive from one such call.
    */
  private[graft] type Extracted = Option[Either[String, Map[String, String]]]

  private[graft] def extractOnce(b: DocAiBackend, text: String,
                                 prompts: Map[String, String]): Extracted =
    if (text == null || prompts == null) None
    else Some(try Right(b.answerAll(text, prompts))
      catch { case e: Exception => Left(String.valueOf(e.getMessage)) })

  /** AI_EXTRACT's shape (app:202-210): {field -> answer}, or
    * {"error" -> message} for a failed call.
    */
  private[graft] def resultMap(x: Extracted): Map[String, String] = x match {
    case None => null
    case Some(Right(answers)) => answers
    case Some(Left(msg)) => Map("error" -> msg)
  }

  /** RFC-8259-complete JSON string escape: backslash, quote, and ALL
    * control chars — answers are raw document sentences, which can
    * embed newlines/tabs that would otherwise corrupt the envelope.
    */
  private def jsonEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def errorEnvelope(msg: String): String =
    s"""{"error": "${jsonEscape(msg)}"}"""

  /** The reference's exact JSON envelope {"response": {field: answer}}
    * (app:503, app:854, app:962), or {"error": msg} like app:855-856.
    */
  private[graft] def envelope(x: Extracted): String = x match {
    case None => null
    case Some(Left(msg)) => errorEnvelope(msg)
    case Some(Right(answers)) =>
      try {
        val fields = answers.toSeq.sortBy(_._1).map { case (f, a) =>
          s""""${jsonEscape(f)}": "${jsonEscape(a)}""""
        }
        s"""{"response": {${fields.mkString(", ")}}}"""
      } catch { // a null answer cannot be enveloped: error-as-row too
        case e: Exception => errorEnvelope(String.valueOf(e.getMessage))
      }
  }

  private def mkExtractUdf(b: DocAiBackend) = udf { (text: String, prompts: Map[String, String]) =>
    resultMap(extractOnce(b, text, prompts))
  }

  private def mkExtractJsonUdf(b: DocAiBackend) = udf { (text: String, prompts: Map[String, String]) =>
    envelope(extractOnce(b, text, prompts))
  }

  private def mkClassifyUdf(b: DocAiBackend) = udf { (text: String) =>
    if (text == null) null else b.classify(text)
  }

  private def mkParseDocumentUdf(b: DocAiBackend) = udf { (content: Array[Byte]) =>
    if (content == null) null else b.parse(content)
  }

  private def mkCompleteUdf(b: DocAiBackend) = udf { (model: String, prompt: String) =>
    if (prompt == null) null else b.complete(model, prompt)
  }

  /** Canonicalize a stored prompt-schema VARIANT (any of the accepted
    * shapes, app:162-183) into the flat {field -> question} map the
    * extract functions take. Pure Scala core, exposed as a UDF so the
    * pipeline can apply it in-plan when reading CLASS_PROMPTS (app:490).
    */
  private val canonicalizeUdf = udf { (promptsJson: String, className: String) =>
    graft.ops.Canonicalize(
      if (promptsJson == null) "" else promptsJson,
      if (className == null) "document" else className)
  }

  def ai_extract(text: Column, prompts: Column): Column =
    mkExtractUdf(backendRef)(text, prompts)
  def canonicalize_prompts(promptsJson: Column, className: Column): Column =
    canonicalizeUdf(promptsJson, className)
  def ai_extract_json(text: Column, prompts: Column): Column =
    mkExtractJsonUdf(backendRef)(text, prompts)
  def ai_classify(text: Column): Column = mkClassifyUdf(backendRef)(text)
  def parse_document(content: Column): Column =
    mkParseDocumentUdf(backendRef)(content)
  def ai_complete(model: Column, prompt: Column): Column =
    mkCompleteUdf(backendRef)(model, prompt)

  /** Register all AI functions for spark.sql use — capturing the
    * backend configured at THIS call (re-register after a swap).
    */
  def register(spark: SparkSession): Unit = {
    val b = backendRef
    spark.udf.register("ai_extract", mkExtractUdf(b))
    spark.udf.register("ai_extract_json", mkExtractJsonUdf(b))
    spark.udf.register("ai_classify", mkClassifyUdf(b))
    spark.udf.register("parse_document", mkParseDocumentUdf(b))
    spark.udf.register("ai_complete", mkCompleteUdf(b))
    spark.udf.register("canonicalize_prompts", canonicalizeUdf)
  }
}
