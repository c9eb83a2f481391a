package perfbench

/** Minimal JSON writer for the run's raw record. */
object Json {
  sealed trait Value
  final case class Num(v: Double) extends Value
  final case class Str(v: String) extends Value
  final case class Bool(v: Boolean) extends Value
  final case class Arr(vs: Seq[Value]) extends Value
  final class Obj extends Value {
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, Value]
    def update(k: String, v: Value): Unit = fields(k) = v
  }
  object Obj {
    def apply(kvs: (String, Value)*): Obj = { val o = new Obj; kvs.foreach(kv => o(kv._1) = kv._2); o }
  }

  def num(x: Double): Value = Num(x)
  def nums(xs: Seq[Double]): Value = Arr(xs.map(Num))

  def write(v: Value): String = {
    val b = new StringBuilder
    def str(s: String): Unit = {
      b += '"'
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      b += '"'
    }
    def go(v: Value): Unit = v match {
      case Num(x) =>
        if (x.isNaN || x.isInfinite) b ++= "null"
        else if (x == math.rint(x) && math.abs(x) < 1e15) b ++= x.toLong.toString
        else b ++= x.toString
      case Str(s) => str(s)
      case Bool(x) => b ++= x.toString
      case Arr(vs) =>
        b += '['
        vs.zipWithIndex.foreach { case (x, i) => if (i > 0) b += ','; go(x) }
        b += ']'
      case o: Obj =>
        b += '{'
        o.fields.zipWithIndex.foreach { case ((k, x), i) => if (i > 0) b += ','; str(k); b += ':'; go(x) }
        b += '}'
    }
    go(v)
    b.toString
  }
}
