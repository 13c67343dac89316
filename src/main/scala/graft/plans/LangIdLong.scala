package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.functions.{call_function, typedlit}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Marker-set language ID in ONE byte pass — EXACTLY the argmax CASE over
  * per-set [[WordSetCountLong]] counts that `TextOps.langId` used to build
  * from five separate kernels:
  *
  *   scores(i) = count of single-space tokens of `text` in `sets(i)`
  *   result    = labels(first index of the maximum score)
  *
  * (first-index-of-max ≡ the `when(en >= de && en >= es && ...)` chain:
  * the first occurrence of the global maximum is the first label that is
  * >= every LATER label's score, and any earlier label is beaten by that
  * maximum.) NULL text yields NULL — `TextOps.langId` coalesces to the
  * last label, replicating the old chain's `otherwise` exactly.
  *
  * Why native (round 19, second pass): the five-kernel `when`-chain
  * referenced each score up to four times. Whole-stage codegen inlines
  * the condition tree — after CollapseProject substitutes a synthesized
  * text expression into every reference (the corpus_app shape: a ~200-arg
  * concat), the fused stage's generated `processNext()` blew janino's
  * 64 KB method limit and the WHOLE stage (scan + synth + langId + filter)
  * silently fell back to INTERPRETED execution — at 100 TB that is a full
  * corpus pass paying boxed per-element eval. One kernel call keeps the
  * stage compiled, and the token walk runs ONCE instead of five times
  * (every token probes all five sets via one shared length-bucketed
  * image table).
  *
  * Token semantics match `split(text, " ")` / [[WordSetCountLong]]
  * precisely; a token in several sets (e.g. "la" in both es and fr)
  * increments each containing set's score, exactly as the five separate
  * counts did.
  */
case class LangIdLong(child: Expression, labels: Seq[String],
                      sets: Seq[Seq[String]])
    extends UnaryExpression {

  require(labels.nonEmpty && labels.length == sets.length,
    s"${LangIdLong.Name} needs one word set per label " +
      s"(got ${labels.length} labels, ${sets.length} sets)")
  // the matcher marks each word's sets in one Long bitmask
  require(sets.length <= 64,
    s"${LangIdLong.Name} takes at most 64 word sets (got ${sets.length})")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs string input, got ${other.simpleString}")
    }

  override def dataType: DataType = StringType
  override def prettyName: String = LangIdLong.Name

  @transient private lazy val matcher = new LangIdLong.MultiMatcher(labels, sets)

  override def nullSafeEval(input: Any): Any =
    matcher.pick(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matcher", matcher,
      classOf[LangIdLong.MultiMatcher].getName)
    defineCodeGen(ctx, ev, c => s"$ref.pick($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LangIdLong {

  /** All sets' token byte-images in one length-bucketed table, each image
    * carrying the bitmask of the sets that contain it — one linear probe
    * per token answers membership for EVERY set at once (sets here are
    * 5-10 words each; a hash is slower than the memcmp).
    *
    * The token walk mirrors [[WordSetCountLong.Matcher]] (single-set form)
    * with the bitmask added; any change to split/tokenizer semantics must
    * be applied to BOTH — the PropertySpec langId pin (which composes the
    * two) fails on divergence.
    */
  final class MultiMatcher(labels: Seq[String], sets: Seq[Seq[String]])
      extends Serializable {
    private val out: Array[UTF8String] =
      labels.map(UTF8String.fromString).toArray
    private val nSets = sets.length
    // distinct images across all sets, mask bit i set iff sets(i) has it
    private val imageMask: Map[String, Long] = {
      val m = scala.collection.mutable.Map.empty[String, Long]
      sets.zipWithIndex.foreach { case (ws, i) =>
        ws.distinct.foreach { w => m(w) = m.getOrElse(w, 0L) | (1L << i) }
      }
      m.toMap
    }
    private val images: Array[(Array[Byte], Long)] = imageMask.toArray
      .map { case (w, mask) =>
        (w.getBytes(java.nio.charset.StandardCharsets.UTF_8), mask)
      }
    private val maxLen = if (images.isEmpty) -1 else images.map(_._1.length).max
    private val byLenImg: Array[Array[Array[Byte]]] =
      Array.tabulate(maxLen + 1)(l => images.collect {
        case (b, _) if b.length == l => b
      })
    private val byLenMask: Array[Array[Long]] =
      Array.tabulate(maxLen + 1)(l => images.collect {
        case (b, m) if b.length == l => m
      })

    def pick(text: UTF8String): UTF8String = {
      val b = text.getBytes
      val counts = new Array[Long](nSets)
      var start = 0
      var i = 0
      while (i <= b.length) {
        if (i == b.length || b(i) == ' '.toByte) {
          val len = i - start
          if (len <= maxLen) {
            val cands = byLenImg(len)
            var k = 0
            var mask = 0L
            while (k < cands.length && mask == 0L) {
              val c = cands(k)
              var j = 0
              while (j < len && c(j) == b(start + j)) j += 1
              if (j == len) mask = byLenMask(len)(k)
              k += 1
            }
            while (mask != 0L) {
              val s = java.lang.Long.numberOfTrailingZeros(mask)
              counts(s) += 1L
              mask &= mask - 1L
            }
          }
          start = i + 1
        }
        i += 1
      }
      var best = 0
      var s = 1
      while (s < nSets) {
        if (counts(s) > counts(best)) best = s
        s += 1
      }
      out(best)
    }
  }

  val Name = "graft_lang_id"

  def fromChildren(children: Seq[Expression]): LangIdLong = {
    Builders.arity(Name, "(text, labels array, sets array<array>)", 3, children)
    val labels = Builders.litStrings(Name, "labels argument", children(1))
    val sets = Builders.litStringLists(Name, "sets argument", children(2))
    LangIdLong(children.head, labels, sets)
  }

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier(Name)
    if (!registry.functionExists(id)) {
      registry.registerFunction(
        id,
        new ExpressionInfo(classOf[LangIdLong].getName, Name),
        (children: Seq[Expression]) => fromChildren(children))
    }
  }

  /** Column API. `labeled` is (label, words) in priority order — baked
    * into the plan as constants (per-query language inventory).
    */
  def langId(text: Column, labeled: Seq[(String, Seq[String])]): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(Name, text, typedlit(labeled.map(_._1)),
      typedlit(labeled.map(_._2)))
  }
}
