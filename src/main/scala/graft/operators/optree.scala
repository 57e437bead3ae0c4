package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.DataType
import org.json4s._

/** Serializable expression tree — the persistable form of the
  * FunctionTransformer surface.
  *
  * The reference persists lambda stages by compiling CPython bytecode to an
  * ONNX dataflow over a fixed op whitelist (dfpipeline/walkBytecode.py,
  * FunctionTransformer.py:68-87 — `+ - * / sqrt abs ceil exp floor log pow
  * least greatest isnan lower when split element_at cast`). On Spark the
  * runtime compiler is Catalyst, so the persistence format only needs a tiny
  * op tree that LOWERS to `Column` expressions: build with the [[Op]] DSL,
  * save as JSON, reload, and the rebuilt Column plan is whole-stage-codegen'd
  * exactly like the closure form.
  *
  * Leaves are `In(i)` (the i-th column of the stage's input tuple) and
  * `Lit(v)` (a scalar literal); nodes are whitelist calls, `Cast`, and
  * `CaseWhen`. The tree is data, not code — no closures anywhere — so it
  * round-trips through `pipeline.json` byte-for-byte.
  */
sealed trait Op {
  def toColumn(ins: Seq[Column]): Column = Op.lower(this, ins)

  def +(o: Op): Op = Op.Call("+", Seq(this, o))
  def -(o: Op): Op = Op.Call("-", Seq(this, o))
  def *(o: Op): Op = Op.Call("*", Seq(this, o))
  def /(o: Op): Op = Op.Call("/", Seq(this, o))
  def %(o: Op): Op = Op.Call("%", Seq(this, o))
  def ===(o: Op): Op = Op.Call("==", Seq(this, o))
  def =!=(o: Op): Op = Op.Call("!=", Seq(this, o))
  def <(o: Op): Op = Op.Call("<", Seq(this, o))
  def <=(o: Op): Op = Op.Call("<=", Seq(this, o))
  def >(o: Op): Op = Op.Call(">", Seq(this, o))
  def >=(o: Op): Op = Op.Call(">=", Seq(this, o))
  def &&(o: Op): Op = Op.Call("&&", Seq(this, o))
  def ||(o: Op): Op = Op.Call("||", Seq(this, o))
  def unary_! : Op = Op.Call("!", Seq(this))
  def cast(to: DataType): Op = Op.Cast(this, to)
}

object Op {
  /** The i-th input column of the stage's tuple. */
  final case class In(i: Int) extends Op
  /** A scalar literal (null / String / Int / Long / Double / Boolean). */
  final case class Lit(v: Any) extends Op
  /** A whitelisted function call. */
  final case class Call(name: String, args: Seq[Op]) extends Op
  final case class Cast(child: Op, to: DataType) extends Op
  /** `when(cond, value).when(...).otherwise(...)`. */
  final case class CaseWhen(
      branches: Seq[(Op, Op)], otherwise: Option[Op]) extends Op

  // ---- builder DSL ------------------------------------------------------
  def in(i: Int): Op = In(i)
  def lit(v: Any): Op = Lit(v)
  def sqrt(o: Op): Op = Call("sqrt", Seq(o))
  def abs(o: Op): Op = Call("abs", Seq(o))
  def ceil(o: Op): Op = Call("ceil", Seq(o))
  def exp(o: Op): Op = Call("exp", Seq(o))
  def floor(o: Op): Op = Call("floor", Seq(o))
  def log(o: Op): Op = Call("log", Seq(o))
  def pow(a: Op, b: Op): Op = Call("pow", Seq(a, b))
  def least(os: Op*): Op = Call("least", os)
  def greatest(os: Op*): Op = Call("greatest", os)
  /** Element-wise mean of the operands (walkBytecode.py:65 `np.mean` →
    * ONNX Mean). */
  def mean(os: Op*): Op = Call("mean", os)
  def isnan(o: Op): Op = Call("isnan", Seq(o))
  def isnull(o: Op): Op = Call("isnull", Seq(o))
  def lower(o: Op): Op = Call("lower", Seq(o))
  def upper(o: Op): Op = Call("upper", Seq(o))
  def split(o: Op, pattern: String): Op = Call("split", Seq(o, Lit(pattern)))
  def element_at(arr: Op, idx: Int): Op =
    Call("element_at", Seq(arr, Lit(idx)))
  def when(cond: Op, value: Op): WhenBuilder =
    new WhenBuilder(Seq(cond -> value))

  final class WhenBuilder(
      private[operators] val branches: Seq[(Op, Op)]) extends Op {
    def when(cond: Op, value: Op): WhenBuilder =
      new WhenBuilder(branches :+ (cond -> value))
    def otherwise(value: Op): Op = CaseWhen(branches, Some(value))
    def done: Op = CaseWhen(branches, None)
  }

  // ---- lowering to Column -----------------------------------------------
  private[operators] def lower(op: Op, ins: Seq[Column]): Column = op match {
    // a WhenBuilder reaching lowering un-finished means "no otherwise"
    case w: WhenBuilder    => lower(CaseWhen(w.branches, None), ins)
    case In(i)             => ins(i)
    case Lit(v)            => F.lit(v)
    case Cast(c, to)       => lower(c, ins).cast(to)
    case CaseWhen(bs, ow) =>
      val chain = bs.tail.foldLeft(
        F.when(lower(bs.head._1, ins), lower(bs.head._2, ins))) {
        case (acc, (c, v)) => acc.when(lower(c, ins), lower(v, ins))
      }
      ow.fold(chain)(o => chain.otherwise(lower(o, ins)))
    case Call(name, args) =>
      val a = args.map(lower(_, ins))
      (name, a) match {
        case ("+", Seq(x, y))  => x + y
        case ("-", Seq(x, y))  => x - y
        case ("*", Seq(x, y))  => x * y
        case ("/", Seq(x, y))  => x / y
        case ("%", Seq(x, y))  => x % y
        case ("==", Seq(x, y)) => x === y
        case ("!=", Seq(x, y)) => x =!= y
        case ("<", Seq(x, y))  => x < y
        case ("<=", Seq(x, y)) => x <= y
        case (">", Seq(x, y))  => x > y
        case (">=", Seq(x, y)) => x >= y
        case ("&&", Seq(x, y)) => x && y
        case ("||", Seq(x, y)) => x || y
        case ("!", Seq(x))     => !x
        case ("sqrt", Seq(x))  => F.sqrt(x)
        case ("abs", Seq(x))   => F.abs(x)
        case ("ceil", Seq(x))  => F.ceil(x)
        case ("exp", Seq(x))   => F.exp(x)
        case ("floor", Seq(x)) => F.floor(x)
        case ("log", Seq(x))   => F.log(x)
        case ("pow", Seq(x, y))   => F.pow(x, y)
        case ("least", xs)        => F.least(xs: _*)
        case ("greatest", xs)     => F.greatest(xs: _*)
        case ("mean", xs) if xs.nonEmpty =>
          xs.map(_.cast("double")).reduce(_ + _) / F.lit(xs.length.toDouble)
        case ("isnan", Seq(x))    => F.isnan(x)
        case ("isnull", Seq(x))   => x.isNull
        case ("lower", Seq(x))    => F.lower(x)
        case ("upper", Seq(x))    => F.upper(x)
        // Pattern.quote: the reference whitelist's split is Python's
        // LITERAL str.split; Spark's split is regex-based, so "." or "|"
        // would silently tokenize wrong without quoting
        case ("split", Seq(x, _)) => args(1) match {
          case Lit(p: String) =>
            F.split(x, java.util.regex.Pattern.quote(p))
          case other => throw new IllegalArgumentException(
            s"split pattern must be a string literal, got $other")
        }
        // try_: under ANSI mode plain element_at throws on out-of-range,
        // killing the job per bad row; null matches StringSplitter's choice
        case ("element_at", Seq(x, y)) => F.try_element_at(x, y)
        case (other, xs) => throw new IllegalArgumentException(
          s"op $other/${xs.length} is not in the whitelist")
      }
  }

  // ---- JSON serde ---------------------------------------------------------
  def toJson(op: Op): JValue = op match {
    case w: WhenBuilder => toJson(CaseWhen(w.branches, None))
    case In(i)  => JObject("op" -> JString("in"), "i" -> JInt(i))
    case Lit(v) => JObject("op" -> JString("lit"), "v" -> LitJson.write(v))
    case Cast(c, to) => JObject("op" -> JString("cast"),
      "child" -> toJson(c), "to" -> JString(to.json))
    case CaseWhen(bs, ow) => JObject("op" -> JString("when"),
      "branches" -> JArray(bs.toList.map { case (c, v) =>
        JObject("cond" -> toJson(c), "value" -> toJson(v)) }),
      "otherwise" -> ow.map(toJson).getOrElse(JNothing))
    case Call(name, args) => JObject("op" -> JString("call"),
      "name" -> JString(name), "args" -> JArray(args.toList.map(toJson)))
  }

  def fromJson(j: JValue): Op = (j \ "op") match {
    case JString("in")  => In((j \ "i").asInstanceOf[JInt].num.toInt)
    case JString("lit") => Lit(LitJson.read(j \ "v"))
    case JString("cast") => Cast(fromJson(j \ "child"),
      DataType.fromJson((j \ "to").asInstanceOf[JString].s))
    case JString("when") => CaseWhen(
      (j \ "branches").asInstanceOf[JArray].arr.map(b =>
        (fromJson(b \ "cond"), fromJson(b \ "value"))),
      j \ "otherwise" match {
        case JNothing => None
        case o        => Some(fromJson(o))
      })
    case JString("call") => Call((j \ "name").asInstanceOf[JString].s,
      (j \ "args").asInstanceOf[JArray].arr.map(fromJson))
    case other => throw new IllegalArgumentException(s"bad op json $other")
  }
}

/** Scalar-literal JSON coding shared by the op tree and stage persistence.
  * Every numeric type keeps its own tag, so a reloaded literal keeps its
  * type; a decimal keeps its unscaled digits and its scale (`lit` of it
  * then has the same precision and scale). */
private[operators] object LitJson {
  def write(v: Any): JValue = v match {
    case null       => JObject("t" -> JString("n"))
    case s: String  => JObject("t" -> JString("s"), "v" -> JString(s))
    case b: Byte    => JObject("t" -> JString("y"), "v" -> JInt(b.toInt))
    case h: Short   => JObject("t" -> JString("h"), "v" -> JInt(h.toInt))
    case i: Int     => JObject("t" -> JString("i"), "v" -> JInt(i))
    case l: Long    => JObject("t" -> JString("l"), "v" -> JInt(l))
    case d: java.math.BigDecimal => JObject("t" -> JString("m"),
      "v" -> JString(d.unscaledValue.toString), "scale" -> JInt(d.scale))
    case d: Double  => JObject("t" -> JString("d"), "v" -> JsonDouble.write(d))
    case f: Float   =>
      JObject("t" -> JString("f"), "v" -> JsonDouble.write(f.toDouble))
    case b: Boolean => JObject("t" -> JString("b"), "v" -> JBool(b))
    case other => throw new IllegalArgumentException(
      s"unsupported literal type ${other.getClass} in persisted stage")
  }

  def read(j: JValue): Any = {
    val JString(t) = j \ "t"
    (t, j \ "v") match {
      case ("n", _)          => null
      case ("s", JString(s)) => s
      case ("y", JInt(i))    => i.toByte
      case ("h", JInt(i))    => i.toShort
      case ("i", JInt(i))    => i.toInt
      case ("l", JInt(i))    => i.toLong
      case ("m", JString(u)) =>
        val JInt(scale) = j \ "scale"
        new java.math.BigDecimal(new java.math.BigInteger(u), scale.toInt)
      case ("d", v)          => JsonDouble.read(v)
      case ("f", v)          => JsonDouble.read(v).toFloat
      case ("b", JBool(b))   => b
      case other => throw new IllegalArgumentException(s"bad literal $other")
    }
  }
}

/** The one JSON coding of a persisted double. JSON numbers have no NaN or
  * infinity (Jackson quotes them, so they would reload as strings): these
  * are written as the tokens `"NaN"`, `"Infinity"` and `"-Infinity"` — the
  * strings Jackson wrote, so older files read back too — and a NaN whose
  * bits differ from `Double.NaN` as `"NaN:<16 hex digits>"`. Finite values,
  * -0.0 included, stay JSON numbers. Reading is bit-exact. */
private[operators] object JsonDouble {
  private val NaNBits = java.lang.Double.doubleToRawLongBits(Double.NaN)

  def write(d: Double): JValue =
    if (d == Double.PositiveInfinity) JString("Infinity")
    else if (d == Double.NegativeInfinity) JString("-Infinity")
    else if (!d.isNaN) JDouble(d)
    else {
      val bits = java.lang.Double.doubleToRawLongBits(d)
      JString(if (bits == NaNBits) "NaN" else f"NaN:$bits%016x")
    }

  def read(j: JValue): Double = j match {
    case JDouble(d)           => d
    case JInt(i)              => i.toDouble
    case JString("NaN")       => Double.NaN
    case JString("Infinity")  => Double.PositiveInfinity
    case JString("-Infinity") => Double.NegativeInfinity
    case JString(s) if s.startsWith("NaN:") => java.lang.Double
      .longBitsToDouble(java.lang.Long.parseUnsignedLong(s.drop(4), 16))
    case other => throw new IllegalArgumentException(
      s"not a persisted double: $other")
  }
}
