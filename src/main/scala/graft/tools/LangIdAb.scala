package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetInputs

/** A/B measurement for the stopword-voting kernels (guide §1 / §4):
  * `array_intersect(tokens, lit-array)` evaluates INTERPRETED inside
  * the codegen'd projection (ArrayIntersect's non-primitive path calls
  * nullSafeEval and allocates SQLOpenHashSets per row per language —
  * jstack-sampled as the hot frames of stream_lang_profile's addBatch)
  * while a sum of `array_contains(tokens, lit)` over the same stop
  * words is fully codegen'd. The two are EQUAL BY CONSTRUCTION:
  * array_intersect returns the distinct common elements, so its size
  * is exactly the count of (distinct literal) stop words the token
  * array contains; the -1-on-null-input convention of size() is
  * replicated explicitly. This tool times both formulations over the
  * real documents table (noop sink — count() would prune the kernels)
  * and hard-fails unless outputs match row-for-row.
  * Usage: runMain graft.tools.LangIdAb
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as Bench). */
object LangIdAb {

  // --- the OLD (r17-and-earlier) formulations, pinned here verbatim
  // so the A/B keeps comparing against the pre-change code after
  // Text.scala moves on ---------------------------------------------
  private def tokens(text: Column): Column = split(lower(text), " +")

  private def oldLangId(text: Column): Column = {
    val stops: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
      "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "pour"),
      "es" -> Seq("el", "los", "las", "es", "una", "que", "por", "como"))
    val w = tokens(text)
    val scores = stops.map { case (lang, ws) =>
      lang -> size(array_intersect(w, array(ws.map(lit): _*)))
    }
    val best = scores.tail.foldLeft[Column](
      struct(scores.head._2.as("s"), lit(scores.head._1).as("l"))) {
      case (acc, (lang, s)) =>
        when(s > acc("s"), struct(s.as("s"), lit(lang).as("l")))
          .otherwise(acc)
    }
    when(length(regexp_replace(text, "[^\\x{4E00}-\\x{9FFF}]", "")) >
        length(text) * 0.2, "zh")
      .otherwise(when(best("s") > 0, best("l")).otherwise("und"))
  }

  private def oldStopwordRatio(text: Column): Column = {
    val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "for")
    val w = tokens(text)
    size(array_intersect(w, array(enStop.map(lit): _*))).cast("double") /
      greatest(size(w), lit(1)).cast("double")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = ParquetInputs.read(spark, s"$sfDir/documents.parquet")

    def timeIt(label: String, df: => DataFrame): Double = {
      val samples = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val med = samples(samples.length / 2)
      println(f"$label%-28s median=$med%.3f s  " +
        s"samples=${samples.map(s => f"$s%.3f").mkString("[", ",", "]")}")
      med
    }

    def assertEqual(label: String, a: DataFrame, b: DataFrame): Unit = {
      val d1 = a.exceptAll(b).count()
      val d2 = b.exceptAll(a).count()
      require(d1 == 0 && d2 == 0,
        s"$label formulations differ: exceptAll counts $d1/$d2")
      println(s"$label: outputs identical (exceptAll 0/0, " +
        s"${a.count()} rows)")
    }

    val oldLang = docs.select(col("doc_id"),
      oldLangId(col("text")).as("pred_lang"))
    val newLang = docs.select(col("doc_id"),
      graft.pipeline.Text.langId(col("text")).as("pred_lang"))
    val oldSwr = docs.select(col("doc_id"),
      oldStopwordRatio(col("text")).as("swr"))
    val newSwr = docs.select(col("doc_id"),
      graft.pipeline.Text.stopwordRatio(col("text")).as("swr"))

    assertEqual("langId", oldLang, newLang)
    assertEqual("stopwordRatio", oldSwr, newSwr)
    // burn-in one pass each, then timed medians
    oldLang.write.format("noop").mode("overwrite").save()
    newLang.write.format("noop").mode("overwrite").save()
    val o = timeIt("langId OLD (intersect)", oldLang)
    val n = timeIt("langId NEW (Text.langId)", newLang)
    oldSwr.write.format("noop").mode("overwrite").save()
    newSwr.write.format("noop").mode("overwrite").save()
    val os = timeIt("stopwordRatio OLD", oldSwr)
    val ns = timeIt("stopwordRatio NEW", newSwr)
    println(f"RATIO langId new/old = ${n / o}%.3f   " +
      f"stopwordRatio new/old = ${ns / os}%.3f")

    // --- component decomposition of langId's cost -------------------
    val stops: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
      "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "pour"),
      "es" -> Seq("el", "los", "las", "es", "una", "que", "por", "como"))
    val splitOnly = docs.select(col("doc_id"),
      size(tokens(col("text"))).as("n"))
    val cjkOnly = docs.select(col("doc_id"),
      length(regexp_replace(col("text"),
        "[^\\x{4E00}-\\x{9FFF}]", "")).as("n"))
    // intersect voting over a STAGED token attribute (split runs once;
    // CollapseProject keeps non-cheap multi-referenced aliases staged)
    val stagedVote = docs
      .select(col("doc_id"), tokens(col("text")).as("__w"))
      .select(col("doc_id"), stops.map { case (_, ws) =>
        size(array_intersect(col("__w"), array(ws.map(lit): _*)))
      }.reduce(_ + _).as("n"))
    // intersect voting with split inline 4x (the current langId shape,
    // minus the CJK arm)
    val inlineVote = docs.select(col("doc_id"), stops.map { case (_, ws) =>
      size(array_intersect(tokens(col("text")), array(ws.map(lit): _*)))
    }.reduce(_ + _).as("n"))
    Seq(("split only", splitOnly), ("cjk regexp only", cjkOnly),
      ("vote staged w", stagedVote), ("vote inline w x4", inlineVote))
      .foreach { case (l, df) =>
        df.write.format("noop").mode("overwrite").save()
        timeIt(l, df)
      }
    spark.stop()
  }
}
