package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Registration of graft's native Catalyst expressions.
  *
  * Two paths, per the standard Spark extension model:
  *  - [[GraftExtensions]] for `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (cluster-wide, survives new sessions);
  *  - [[GraftFunctions.register]] for imperative registration on an
  *    existing session (used by the ops library so any driver-provided
  *    session works).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier(VecDotProduct.Name),
      VecDotProduct.info, VecDotProduct.builder))
    ext.injectFunction((FunctionIdentifier(SrpBandBuckets.Name),
      SrpBandBuckets.info, SrpBandBuckets.builder))
    ext.injectFunction((FunctionIdentifier(SeededXxHash64Long.Name),
      SeededXxHash64Long.info, SeededXxHash64Long.builder))
    ext.injectFunction((FunctionIdentifier(BpeTokenCount.Name),
      BpeTokenCount.info, BpeTokenCount.builder))
    ext.injectFunction((FunctionIdentifier(BpeTokens.Name),
      BpeTokens.info, BpeTokens.builder))
    ext.injectFunction((FunctionIdentifier(BpeTokenCountVocab.Name),
      BpeTokenCountVocab.info, BpeTokenCountVocab.builder))
    ext.injectFunction((FunctionIdentifier(NfcNormalize.Name),
      NfcNormalize.info, NfcNormalize.builder))
    ext.injectFunction((FunctionIdentifier(CharEntropyStats.Name),
      CharEntropyStats.info, CharEntropyStats.builder))
    ext.injectFunction((FunctionIdentifier(StopwordSetCounts.Name),
      StopwordSetCounts.info, StopwordSetCounts.builder))
    ext.injectFunction((FunctionIdentifier(WordNgrams.Name),
      WordNgrams.info, WordNgrams.builder))
    ext.injectFunction((FunctionIdentifier(CharNgrams.Name),
      CharNgrams.info, CharNgrams.builder))
    ext.injectFunction((FunctionIdentifier(CharNgramCounts.Name),
      CharNgramCounts.info, CharNgramCounts.builder))
    ext.injectFunction((FunctionIdentifier(BigramLmFold.Name),
      BigramLmFold.info, BigramLmFold.builder))
    ext.injectFunction((FunctionIdentifier(NgramLmScores.Name),
      NgramLmScores.info, NgramLmScores.builder))
    ext.injectFunction((FunctionIdentifier(LmArgmax.Name),
      LmArgmax.info, LmArgmax.builder))
    ext.injectFunction((FunctionIdentifier(MinHashSig.Name),
      MinHashSig.info, MinHashSig.builder))
    ext.injectFunction((FunctionIdentifier(PqAdc.Name),
      PqAdc.info, PqAdc.builder))
  }
}

object GraftFunctions {
  // sessions we have already registered on — the FIRST call per session
  // still create-or-replaces (guaranteeing OUR builder wins over any
  // foreign function squatting on the name), later calls no-op so
  // per-operator registration doesn't spam replacement WARNs. Weak keys:
  // must not pin sessions in memory.
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotently register graft functions on a live session. Holds the
    * map's own monitor across the whole registration so a concurrent
    * caller can't observe "already registered" and proceed to analysis
    * before the names actually resolve — the put happens only AFTER the
    * last name is in the registry, and losers block on the same monitor
    * until then. */
  def register(spark: SparkSession): Unit = registered.synchronized {
    if (!registered.containsKey(spark)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        VecDotProduct.Name, VecDotProduct.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        SrpBandBuckets.Name, SrpBandBuckets.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        SeededXxHash64Long.Name, SeededXxHash64Long.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        BpeTokenCount.Name, BpeTokenCount.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        BpeTokens.Name, BpeTokens.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        BpeTokenCountVocab.Name, BpeTokenCountVocab.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        NfcNormalize.Name, NfcNormalize.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        CharEntropyStats.Name, CharEntropyStats.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        StopwordSetCounts.Name, StopwordSetCounts.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        WordNgrams.Name, WordNgrams.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        CharNgrams.Name, CharNgrams.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        CharNgramCounts.Name, CharNgramCounts.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        BigramLmFold.Name, BigramLmFold.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        NgramLmScores.Name, NgramLmScores.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        LmArgmax.Name, LmArgmax.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        MinHashSig.Name, MinHashSig.builder, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        PqAdc.Name, PqAdc.builder, "built-in")
      registered.put(spark, java.lang.Boolean.TRUE)
    }
  }
}
