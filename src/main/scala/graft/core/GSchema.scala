package graft.core

import org.apache.spark.sql.types._

/** Column dtypes supported by the engine.
  *
  * Mirrors the reference's flat-scalar type system
  * (lakota/schema.py:12-20): timestamp (second precision there, we keep
  * microseconds), date, int64, float64, string. No nested types in the
  * core series model; extension tables (embeddings, documents,
  * multimodal) use Spark-native Array/Binary columns outside the
  * versioned-series core.
  */
sealed abstract class GType(val name: String) extends Serializable {
  def sparkType: DataType

  /** In-kernel scalar representation: Long / Double / String. */
  def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long)     => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case _ =>
      throw new IllegalArgumentException(
        s"cannot compare $a (${a.getClass}) with $b (${b.getClass})")
  }

  /** Zero/padding value (reference: lakota/schema.py:166-167). */
  def zero: Any

  /** Parse a user-facing string literal into the kernel repr. */
  def parseValue(s: String): Any
}

object GType {
  /** epoch microseconds, stored as Long */
  case object TimestampT extends GType("timestamp") {
    def sparkType: DataType = TimestampType
    def zero: Any = 0L
    def parseValue(s: String): Any = {
      // Digit strings are epoch SECONDS (never micros — a micros
      // string would silently multiply again); else ISO-8601.
      if (s.forall(c => c.isDigit || c == '-') && s.nonEmpty &&
          s.drop(1).forall(_.isDigit)) s.toLong * 1000000L
      else {
        val t = java.time.LocalDateTime.parse(
          if (s.contains("T")) s else s.replace(" ", "T") match {
            case d if d.length == 10 => d + "T00:00:00"
            case d                   => d
          })
        t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
          t.getNano / 1000L
      }
    }
  }
  /** epoch day, stored as Long */
  case object DateT extends GType("date") {
    def sparkType: DataType = DateType
    def zero: Any = 0L
    def parseValue(s: String): Any =
      if (s.forall(_.isDigit)) s.toLong
      else java.time.LocalDate.parse(s).toEpochDay
  }
  case object IntT extends GType("int") {
    def sparkType: DataType = LongType
    def zero: Any = 0L
    def parseValue(s: String): Any = s.toLong
  }
  case object FloatT extends GType("float") {
    def sparkType: DataType = DoubleType
    def zero: Any = 0.0
    def parseValue(s: String): Any = s.toDouble
  }
  case object StrT extends GType("str") {
    def sparkType: DataType = StringType
    def zero: Any = ""
    def parseValue(s: String): Any = s
  }

  val all: Seq[GType] = Seq(TimestampT, DateT, IntT, FloatT, StrT)

  def parse(s: String): GType = s.toLowerCase match {
    case "timestamp" | "m8[s]" | "m8[us]" => TimestampT
    case "date" | "m8[d]"                 => DateT
    case "int" | "i8" | "long"            => IntT
    case "float" | "f8" | "double"        => FloatT
    case "str" | "o" | "u" | "string"     => StrT
    case other => throw new IllegalArgumentException(s"bad dtype: $other")
  }

  def fromSpark(dt: DataType): GType = dt match {
    case TimestampType         => TimestampT
    case DateType              => DateT
    case LongType | IntegerType | ShortType => IntT
    case DoubleType | FloatType => FloatT
    case StringType            => StrT
    case other =>
      throw new IllegalArgumentException(s"unsupported spark type: $other")
  }
}

final case class ColDef(name: String, dtype: GType, idx: Boolean)
    extends Serializable

/** Engine schema: ordered columns, >=1 index column.
  *
  * Declared from a UI string per column ("timestamp*" = indexed
  * timestamp — reference lakota/schema.py:111-128) or from Spark
  * StructType. `kv` marks upsert semantics (reference
  * lakota/schema.py:188-192).
  */
final case class GSchema(cols: Seq[ColDef], kv: Boolean = false)
    extends Serializable {
  require(cols.exists(_.idx), "Invalid schema, no index defined")

  val idx: Seq[ColDef] = cols.filter(_.idx)
  val nonIdx: Seq[ColDef] = cols.filterNot(_.idx)
  val idxNames: Seq[String] = idx.map(_.name)
  val names: Seq[String] = cols.map(_.name)
  def apply(name: String): ColDef = cols.find(_.name == name).getOrElse(
    throw new NoSuchElementException(s"no column $name"))

  def sparkSchema: StructType =
    StructType(cols.map(c => StructField(c.name, c.dtype.sparkType,
      nullable = !c.idx)))

  /** Lexicographic compare of two full/prefix index keys. A shorter key
    * equal on its prefix compares equal (0) — prefix semantics used by
    * manifest bisect (reference lakota/frame.py:199-211).
    */
  def cmpKey(a: IndexKey, b: IndexKey): Int = {
    val n = math.min(a.values.length, b.values.length)
    var i = 0
    while (i < n) {
      val c = idx(i).dtype.cmp(a.values(i), b.values(i))
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** Is every key of [lo, hi] inside the interval from `start` to
    * `stop` whose ends `closed` includes? A null `start` or `stop` is
    * unbounded on that side; keys compare by [[cmpKey]]. */
  def within(lo: IndexKey, hi: IndexKey, start: IndexKey, stop: IndexKey,
      closed: Closed): Boolean = {
    val l = if (start == null) 1 else cmpKey(lo, start)
    val r = if (stop == null) -1 else cmpKey(hi, stop)
    (l > 0 || (l == 0 && closed.left)) && (r < 0 || (r == 0 && closed.right))
  }

  /** A range BOUND as a CUT in full-key space: a partial-arity key
    * is a position AROUND its group of extensions — `after = false`
    * cuts before every extension, `after = true` cuts after all of
    * them. Which side a bound cuts follows the engine's query-side
    * convention (same as `Manifest.segments` prefix resolution):
    * start bound → after iff left-open; stop bound → after iff
    * right-closed — so a stop of (m), closed, takes ALL of group m
    * while a right-open one spares it. Equal-arity comparisons ignore
    * the flags entirely (exact reference tuple parity — full-key
    * behavior unchanged); a cut never coincides with a longer real
    * key. */
  def cmpCut(aK: IndexKey, aAfter: Boolean,
      bK: IndexKey, bAfter: Boolean): Int = {
    val c = cmpKey(aK, bK)
    if (c != 0) c
    else {
      val (al, bl) = (aK.values.length, bK.values.length)
      if (al == bl) 0
      else if (al < bl) { if (aAfter) 1 else -1 }
      else { if (bAfter) -1 else 1 }
    }
  }

  /** Does the range from `start` to `stop` cut its start after its
    * stop ([[cmpCut]])? Such a range holds no key: start (5) left-open
    * to stop (5, 39) begins after all of group 5. */
  def inverted(start: IndexKey, stop: IndexKey, closed: Closed): Boolean =
    cmpCut(start, !closed.left, stop, closed.right) > 0

  /** Python-tuple TOTAL order over (possibly partial) keys: prefix
    * compare, then shorter-before-longer — `(5,) < (5, 0)`, exactly
    * what the reference's splice algebra inherits from raw tuple
    * comparison. [[cmpKey]] (prefix semantics: a partial key compares
    * equal to its extensions) remains the QUERY-side convention,
    * where `Manifest.segments` resolves prefix bounds by
    * side+closedness instead. */
  def cmpKeyTotal(a: IndexKey, b: IndexKey): Int = {
    val c = cmpKey(a, b)
    if (c != 0) c
    else a.values.length.compare(b.values.length)
  }

  def serialize: String = GSchema.toJson(this)
}

/** A (possibly partial) lexicographic index tuple. Values use the
  * kernel scalar repr of the corresponding idx column dtype.
  */
final case class IndexKey(values: Vector[Any]) extends Serializable {
  override def toString: String = values.mkString("(", ",", ")")
}

object IndexKey {
  def apply(vs: Any*)(implicit d: DummyImplicit): IndexKey =
    IndexKey(vs.toVector)
}

object GSchema {

  /** Build from (name -> ui-definition) pairs, e.g.
    * "timestamp" -> "timestamp*", "value" -> "float".
    */
  def apply(defs: (String, String)*): GSchema =
    GSchema(defs.map { case (n, d) =>
      val star = d.trim.endsWith("*")
      val dt = if (star) d.trim.dropRight(1).trim else d.trim
      ColDef(n, GType.parse(dt), star)
    })

  def kv(defs: (String, String)*): GSchema = apply(defs: _*).copy(kv = true)

  def fromSpark(st: StructType, idxCols: Seq[String],
      kv: Boolean = false): GSchema =
    GSchema(st.fields.toSeq.map(f =>
      ColDef(f.name, GType.fromSpark(f.dataType), idxCols.contains(f.name))),
      kv)

  def toJson(s: GSchema): String = {
    val cols = s.cols.map { c =>
      s"""{"name":${Json.str(c.name)},"dt":"${c.dtype.name}","idx":${c.idx}}"""
    }.mkString("[", ",", "]")
    s"""{"kind":${if (s.kv) "\"kv\"" else "null"},"columns":$cols}"""
  }

  // Registry decode calls fromJson once per ENTRY and a 1e5-
  // collection repo holds ~a handful of distinct schema strings —
  // memoize the parse (schemas are immutable values). A schema string
  // is ~100 B, so the 4096-entry bound is a few MB worst case.
  private val parseCache = new BoundedCache[String, GSchema](4096)

  def fromJson(j: String): GSchema = parseCache.getOrLoad(j) {
    val m = Json.parse(j).asInstanceOf[Map[String, Any]]
    val kv = m.get("kind").contains("kv")
    val cols = m("columns").asInstanceOf[List[Any]].map { o =>
      val cm = o.asInstanceOf[Map[String, Any]]
      ColDef(cm("name").asInstanceOf[String],
        GType.parse(cm("dt").asInstanceOf[String]),
        cm("idx").asInstanceOf[Boolean])
    }
    GSchema(cols, kv)
  }
}
