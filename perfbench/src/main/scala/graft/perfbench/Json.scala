package graft.perfbench

/** Minimal JSON writer for the run record the harness hands back to
  * run.py. Values are converted at construction: strings, numbers,
  * booleans, Options, Seqs, Maps and nested [[Json.J]] values. */
object Json {
  sealed trait J
  final case class Str(s: String) extends J
  final case class Num(d: Double) extends J
  final case class Bool(b: Boolean) extends J
  case object Null extends J
  /** Already-rendered JSON text (Spark's own progress records). */
  final case class Raw(text: String) extends J
  final case class Arr(xs: Seq[J]) extends J
  final case class Obj(fields: Vector[(String, J)]) extends J {
    def +(kv: (String, Any)): Obj = Obj(fields :+ (kv._1 -> of(kv._2)))
    def ++(o: Obj): Obj = Obj(fields ++ o.fields)
  }
  object Obj { def apply(kvs: (String, Any)*): Obj = new Obj(kvs.map(kv => kv._1 -> of(kv._2)).toVector) }

  def of(v: Any): J = v match {
    case j: J => j
    case null | None => Null
    case Some(x) => of(x)
    case s: String => Str(s)
    case b: Boolean => Bool(b)
    case i: Int => Num(i.toDouble)
    case l: Long => Num(l.toDouble)
    case d: Double => Num(d)
    case m: scala.collection.Map[_, _] => Obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => new Arr(xs.toSeq.map(of))
    case other => Str(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(j: J): String = j match {
    case Str(s) => quote(s)
    case Num(d) =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case Bool(b) => b.toString
    case Null => "null"
    case Raw(t) => t
    case Arr(xs) => xs.map(render).mkString("[", ",", "]")
    case Obj(fs) => fs.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}")
  }
}
