package graft.plans

import org.apache.spark.sql.{Column, DataFrame}

/**
 * Scan-parallelism floor: a relation rooted in one small file (or any
 * source with fewer splits than the session's cores) serializes every
 * narrow stage built on it — explodes, per-row codecs, hash projections
 * and map-side partial aggregations all run in that one task. One cheap
 * hash repartition on a caller-chosen key restores the fan-out.
 *
 * Scale-adaptive by construction: the floor is `defaultParallelism`
 * (session-derived, never a constant) and sources already wider pass
 * through untouched — at warehouse scale the condition is simply false
 * and the operator plans exactly as before.
 *
 * Operators apply it, never sources: `floor` plans its input to count
 * the splits, and the repartition adds an exchange, which pays only
 * where the per-row work after it is heavy (the tfidf, vocab, bigram
 * and BPE text operators). A source applying it would plan at build
 * time and add the exchange to every query built on it, including the
 * light chains (cell encode, PIP assign, md5) where it costs more than
 * it gains.
 */
object Parallelism {

  def floor(df: DataFrame, key: Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < p) df.repartition(p, key)
    else df
  }
}
