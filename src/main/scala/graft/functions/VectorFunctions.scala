package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Vector math over `array<float>` embedding columns, built from
  * higher-order built-ins (zip_with/transform/aggregate) so everything
  * stays codegen-friendly — no UDFs.
  *
  * Exactness protocol for oracle-checked similarity: every float32
  * component is quantized to DECIMAL(12,9) — exact for binary floats
  * (no float32 value sits on a 1e-9 rounding boundary, since that
  * would need a denominator divisible by 5^9) — so dot products and
  * squared norms are order-independent exact decimals in BOTH Spark
  * and DuckDB. The only float ops are the final sqrt/divide on
  * identical doubles, which IEEE-754 rounds identically.
  */
object VectorFunctions {

  /** Embedding dimensionality of the `embeddings` table. */
  val Dim = 64

  /** Component quantization scale: x → floor(double(x) * 1e7). */
  val QScale = 10000000L

  /** Quantized component i (1-based): exact int64. floor of an IEEE
    * double product is bit-deterministic, so Spark and DuckDB produce
    * the identical integer from the identical float32 — unlike
    * engine-native float→decimal casts (DuckDB's rounds in float32
    * space and is off by ~3e-9 per component). */
  private def qComp(v: Column, i: Int): Column =
    floor(element_at(v, i + 1).cast("double") * QScale).cast("long")

  /** The whole quantized vector as `array<long>` — the exact-integer
    * identity of an embedding. Two embeddings with equal quantized
    * vectors are indistinguishable to every oracle-checked similarity
    * here (dot products and norms are functions of the quantized
    * components only), which makes this array THE exact-dup family
    * key for dedup-before-indexing ([[graft.operators.Similarity
    * .nearDupPairs]]). Plain `transform` — groupable/joinable in both
    * Spark and DuckDB with identical semantics. */
  def quantizeQ(v: Column): Column =
    transform(v, x => floor(x.cast("double") * QScale).cast("long"))

  /** Exact integer dot product of two quantized vectors, as DOUBLE.
    * Backed by the native [[graft.plans.QuantizedDotProduct]] Catalyst
    * expression (constant-size codegen loop, any Dim).
    * |q| ≤ QScale, so the sum is ≤ 64·QScale² « 2^63: no overflow. */
  def dotQ(a: Column, b: Column): Column =
    graft.plans.QuantizedDotProduct(a, b).cast("double")

  /** Built-ins-only equivalent of [[dotQ]] (flat Dim-term codegen
    * chain): kept as the reference implementation the native
    * expression is property-tested against. */
  def dotQChain(a: Column, b: Column): Column =
    (0 until Dim)
      .map(i => qComp(a, i) * qComp(b, i))
      .reduceLeft(_ + _)
      .cast("double")

  /** Quantized-exact L2 norm, as DOUBLE. */
  def normQ(a: Column): Column = sqrt(dotQ(a, a))

  /** Cosine similarity given precomputed norms (double ops only on
    * bit-identical inputs → bit-identical result both engines).
    * Zero-norm guard: ANSI mode (Spark 4 default) makes even DOUBLE
    * division by zero THROW, so one degenerate all-zero embedding in a
    * candidate set would kill the whole query — pin its similarity to
    * a defined 0.0 instead (the same convention as IVF assignment;
    * caught by SimilarityOpsSpec's zero-norm regression test). The
    * guard is a codegen'd branch around the dot product — free next to
    * the Dim-term loop — and unreachable on oracle data (the planted
    * corpus has no zero vectors), so cross-engine hashes are untouched. */
  def cosineWithNorms(a: Column, na: Column, b: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dotQ(a, b) / (na * nb))
}
