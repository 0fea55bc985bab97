package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII
import java.time.ZoneOffset

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.TimestampFormatter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Go's `time.Time.String()` of the envelope timestamp:
  * `yyyy-MM-dd HH:mm:ss`, then `.` and the microseconds with trailing
  * zeros trimmed (nothing when all are zero), then ` +0000 UTC`. The
  * reference's envelope Timestamp is always UTC (`main.go:265`), so the
  * render reads the micros as UTC whatever the session time zone.
  *
  * Why an `Expression`: `concat(cast(ts as string), ' +0000 UTC')`
  * formats through java.time into a `String`, encodes it to UTF-8 and
  * copies it once more into the concat, per record, and the cast uses
  * the session time zone. This writes the bytes straight from the micros
  * into one array, with the days → civil date arithmetic of H. Hinnant's
  * `civil_from_days`. Years outside 1–9999 fall back to Spark's own
  * fraction formatter at UTC, the one the cast uses. NULL → NULL
  * (`nullIntolerant`).
  */
case class GoTimeString(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_go_time"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case TimestampType | TimestampNTZType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a TIMESTAMP or TIMESTAMP_NTZ argument, got ${t.sql}")
  }

  override def nullSafeEval(us: Any): Any = GoTimeString.render(us.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = GoTimeString.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, us => s"$cls.render($us)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GoTimeString {

  private val Suffix = " +0000 UTC"
  private val SuffixBytes = Suffix.getBytes(US_ASCII)
  private lazy val formatter = TimestampFormatter.getFractionFormatter(ZoneOffset.UTC)

  /** The render of `us` micros since the epoch, UTC. Called from both
    * eval paths.
    */
  def render(us: Long): UTF8String = {
    val secs = Math.floorDiv(us, 1000000L)
    val days = Math.floorDiv(secs, 86400L)
    val sod = Math.floorMod(secs, 86400L).toInt
    // civil_from_days: eras of 400 years starting on March 1st.
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = z - era * 146097L
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = (doy - (153 * mp + 2) / 5 + 1).toInt
    val month = (if (mp < 10) mp + 3 else mp - 9).toInt
    val year = yoe + era * 400 + (if (month <= 2) 1 else 0)
    if (year < 1 || year > 9999) return UTF8String.fromString(formatter.format(us) + Suffix)

    var frac = Math.floorMod(us, 1000000L).toInt
    var digits = if (frac == 0) 0 else 6
    while (digits > 0 && frac % 10 == 0) { frac /= 10; digits -= 1 }
    val out = new Array[Byte](19 + (if (digits > 0) digits + 1 else 0) + SuffixBytes.length)
    def put(at: Int, v: Int, width: Int): Unit = {
      var x = v
      var i = at + width - 1
      while (i >= at) { out(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
    }
    put(0, year.toInt, 4); out(4) = '-'
    put(5, month, 2); out(7) = '-'
    put(8, day, 2); out(10) = ' '
    put(11, sod / 3600, 2); out(13) = ':'
    put(14, sod / 60 % 60, 2); out(16) = ':'
    put(17, sod % 60, 2)
    if (digits > 0) { out(19) = '.'; put(20, frac, digits) }
    System.arraycopy(SuffixBytes, 0, out, out.length - SuffixBytes.length, SuffixBytes.length)
    UTF8String.fromBytes(out)
  }

  /** `SparkSessionExtensions.injectFunction` descriptor for
    * `graft_go_time(ts)`.
    */
  val description: (FunctionIdentifier,
      ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_go_time"),
    new ExpressionInfo(classOf[GoTimeString].getName, "graft_go_time"),
    (children: Seq[Expression]) => children match {
      case Seq(a) => GoTimeString(a)
      case cs => throw new IllegalArgumentException(
        s"graft_go_time takes exactly 1 argument, got ${cs.length}")
    }
  )
}
