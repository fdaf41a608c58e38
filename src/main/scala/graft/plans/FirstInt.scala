package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.SparkSqlBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: first run of ASCII digits in a string,
  * parsed as INT — the instance-key extraction every events query
  * pays per row in `EventFunctions.norm` (the combat-instance key
  * rides in the `props` JSON; reference: heuristics/utils.py reads
  * the instance id off each event dict).
  *
  * Exact semantics of the pipeline it replaces (and of the DuckDB
  * oracle, which still runs it):
  *
  *   CAST(regexp_extract(s, '(\d+)', 1) AS INT)
  *
  * i.e. the FIRST maximal `[0-9]+` run (Java regex `\d` is
  * ASCII-only), NULL when the string holds no digit. A digit run
  * overflowing INT would make the regex form fault under ANSI; here
  * it returns NULL instead — unreachable in this schema (GenSf
  * requires shifted instance keys ≤ Int.MaxValue; the driver's
  * generator emits small ints), documented as the domain bound.
  *
  * Why native: Java regex over 1M+ `props` strings costs ~2x the
  * whole parquet scan (measured at sf1:
  * regexp_extract ~0.3-0.6 s steady vs 0.2 s scan floor;
  * get_json_object and from_json are worse). This byte scan is a
  * branch-per-byte codegen loop with zero allocation — digits are
  * single UTF-8 bytes, so no decoding is needed.
  */
case class FirstInt(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING input, got ${child.dataType.catalogString}")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "first_int"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var i = 0
    while (i < bytes.length && (bytes(i) < '0' || bytes(i) > '9')) i += 1
    if (i == bytes.length) null
    else {
      var v = 0L
      var overflow = false
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0')
        if (v > Int.MaxValue) overflow = true
        i += 1
      }
      if (overflow) null else v.toInt
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val ovf = ctx.freshName("ovf")
      s"""
         |final byte[] $bytes = $in.getBytes();
         |int $i = 0;
         |while ($i < $bytes.length && ($bytes[$i] < '0' || $bytes[$i] > '9')) { $i++; }
         |if ($i == $bytes.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $v = 0L;
         |  boolean $ovf = false;
         |  while ($i < $bytes.length && $bytes[$i] >= '0' && $bytes[$i] <= '9') {
         |    $v = $v * 10L + ($bytes[$i] - '0');
         |    if ($v > Integer.MAX_VALUE) { $ovf = true; }
         |    $i++;
         |  }
         |  if ($ovf) { ${ev.isNull} = true; } else { ${ev.value} = (int) $v; }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FirstInt =
    copy(child = newChild)
}

object FirstInt {
  /** DataFrame-API form. */
  def apply(s: Column): Column =
    SparkSqlBridge.column(FirstInt(SparkSqlBridge.expression(s)))
}
