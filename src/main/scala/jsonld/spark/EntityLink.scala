package jsonld.spark

import org.apache.spark.sql.{DataFrame, Dataset, Column}
import org.apache.spark.sql.functions._

/** Entity linking: resolve quad IRIs against a vocabulary dictionary.
  *
  * Two physical strategies, chosen by dictionary size and key skew:
  * - broadcast hash join for the common case (vocab dictionaries are small:
  *   thousands of IRIs) — zero shuffle;
  * - salted repartition join for skewed popular keys (schema.org / foaf
  *   predicates dominate real corpora): the big side gets a deterministic
  *   salt, the small side is exploded ×N, the join key becomes (key, salt)
  *   so one hot key spreads over N reducers. AQE skew-join is the first
  *   line of defense; the salted join is the deterministic fallback when
  *   the small side is itself broadcast-joined away by AQE.
  */
object EntityLink {

  /** Broadcast dictionary join: quads.pred → vocab(iri, label, prefix). */
  def linkPredicates(quads: DataFrame, vocab: DataFrame,
                     quadKey: String = "pred", vocabKey: String = "iri"): DataFrame =
    quads.join(broadcast(vocab), quads(quadKey) === vocab(vocabKey), "left")

  /** Salted repartition join for skewed keys.
    *
    * @param big      large, skewed side
    * @param small    dimension side (exploded ×`salts`)
    * @param key      equi-join key column name present on both sides
    * @param salts    number of salt buckets a hot key is spread over
    */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String, smallKey: String,
                 salts: Int = 16, joinType: String = "left"): DataFrame = {
    // deterministic salt: hash of the whole row's payload, not rand(), so
    // task retries are idempotent
    val bigSalted = big.withColumn("__salt",
      pmod(hash(big.columns.map(col).toIndexedSeq: _*), lit(salts)))
    val saltValues = array((0 until salts).map(lit): _*)
    val smallExploded = small.withColumn("__salt2", explode(saltValues))
    val joined = bigSalted.join(smallExploded,
      bigSalted(bigKey) === smallExploded(smallKey) &&
        bigSalted("__salt") === smallExploded("__salt2"),
      joinType)
    joined.drop("__salt").drop("__salt2")
  }
}
