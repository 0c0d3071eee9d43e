package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Literal, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType

import graft.functions.{GraftFunctions, KernelCall, Kernels}

/** Optimizer rule: elide full PCM decodes whose result is only counted.
  *
  * `size(decode_pcm(bytes, codec, sr))` materializes the whole float array
  * just to read its length; the length is pure byte math
  * (`pcm_sample_count`). On a 100 TB scan that's the difference between
  * decoding every clip and not touching the samples at all. The analog of
  * the reference's resource-blocking optimization — don't fetch what you
  * won't parse (`/root/reference/fetch/fetcher.go:600-610`).
  */
object DecodeElision extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(KernelCall(Kernels.DecodePcm, Seq(bytes, codec, _)), legacy) if !legacy =>
        KernelCall(Kernels.PcmSampleCount, IndexedSeq(bytes, codec))
    }
}

/** Optimizer rule: fuse `pcm_band_energies(pcm_tone(sr, f, n), 'pcm16',
  * srB)` into the single `tone_band_energies` kernel — skips encoding the
  * synthesized samples to a pcm16 byte array and re-parsing them (one
  * allocation + two full passes per row), with bit-identical output (the
  * fused kernel quantizes each sample through the same floatToShort /
  * 32768.0 round trip and runs the same recurrence structure — see
  * AudioCodec.toneBandEnergies). The kernel-fusion analog of
  * [[DecodeElision]]: don't materialize what the next expression will
  * immediately take apart. */
object ToneBandFusion extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case KernelCall(bands, Seq(KernelCall(Kernels.PcmTone, Seq(sr, f, n)),
          Literal(codec, StringType), srB))
          if bands.name == Kernels.PcmBandEnergies.name && codec != null &&
            codec.toString == graft.audio.AudioCodec.Pcm16 =>
        KernelCall(Kernels.ToneBandEnergies.withConsts(bands.consts: _*),
          IndexedSeq(sr, f, n, srB))
    }
}

/** Session extensions: graft function registration + optimizer rules.
  * Usable via `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * on spark-submit, or `.withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => DecodeElision)
    e.injectOptimizerRule(_ => ToneBandFusion)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    GraftFunctions.sqlFunctions.foreach { case (name, className, build) =>
      e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(className, name), build))
    }
    // TVF surface: SELECT * FROM clip_cards('<clips parquet dir>') — the
    // reference's "cards" payload as a SQL table function (selector
    // extraction applied to the clip table at the given path). The path
    // argument must be a foldable string literal (like range()'s args).
    e.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("clip_cards"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.operators.Extraction", "clip_cards"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        val Seq(path) = stringLiteralArgs("clip_cards(path)", es, 1)
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Extraction(graft.queries.ClipQueries.cardsSpec)(
          spark.read.parquet(path)).queryExecution.analyzed
      }))
    // Parameterized variant: the payload spec itself rides a SQL literal —
    // SELECT * FROM clip_extract('<dir>', 'Name:name:text+href;...').
    // The reference takes this payload as POSTed JSON
    // (/root/reference/scrape/scrape.go:157-172); here it is a compact
    // string parsed by Extraction.parseSpec with the same checkPayload
    // validation.
    e.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("clip_extract"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.operators.Extraction", "clip_extract"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        val Seq(path, specStr) = stringLiteralArgs("clip_extract(path, spec)", es, 2)
        val spec = graft.operators.Extraction.parseSpec(specStr)
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Extraction(spec)(
          spark.read.parquet(path)).queryExecution.analyzed
      }))
  }

  /** Validate TVF arguments: exactly `n` foldable non-NULL StringType
    * expressions, each failure raising the same descriptive
    * IllegalArgumentException as the arity check (ADVICE r3: a foldable
    * NULL literal previously escaped as NullPointerException, and non-
    * string foldables were silently accepted via toString). */
  private def stringLiteralArgs(
      sig: String,
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      n: Int): Seq[String] = {
    require(es.length == n && es.forall(_.foldable),
      s"$sig expects $n string literal${if (n == 1) "" else "s"}")
    es.map { e =>
      require(e.dataType == org.apache.spark.sql.types.StringType,
        s"$sig expects string literals, got argument of type ${e.dataType.sql}")
      val v = e.eval()
      require(v != null, s"$sig arguments must not be NULL")
      v.toString
    }
  }
}
