package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical triples relation for the Spark-native EAV engine.
  *
  * Everything the engine stores is a set of (entity, attribute, value)
  * triples — the data model of the reference (tripl/tripl.py:322-324,
  * docs/vision.md:12-18). The reference keeps three nested-dict index
  * permutations (EAV/AEV/VAE); here there is ONE DataFrame and "index
  * choice" is Catalyst's problem (filter pushdown + partitioning), per
  * SURVEY.md §1.5.
  *
  * Values are polymorphic scalars-or-refs (tripl.py:28-33). We use a
  * tagged representation: `vtype` discriminator + one natively-typed
  * column per type, so values shuffle/compare/group natively and
  * round-trip to parquet for the DuckDB oracle:
  *
  *   e     STRING  — entity id (globally unique string, vision.md:50-53)
  *   a     STRING  — namespaced attribute 'ns:name' (vision.md:54-56)
  *   vtype STRING  — one of str|long|dbl|bool|ts|ref|bin
  *   vstr / vlong / vdbl / vbool / vts / vref / vbin — exactly one non-null
  *   txId  LONG    — transaction id; monotone per assert batch. Powers
  *                   cardinality-one latest-wins (tripl.py:419-427 upsert)
  *                   without in-place mutation: Spark storage is
  *                   append-only, so upsert = window-dedup at read time.
  */
object Triples {
  val VStr = "str"; val VLong = "long"; val VDbl = "dbl"; val VBool = "bool"
  val VTs = "ts"; val VRef = "ref"; val VBin = "bin"

  /** Well-known attributes (tripl.py:305, 158; nestly.py:392). */
  val IdentAttr = "db:ident"
  val TypeAttr = "tripl:type"

  val valueCols: Seq[String] = Seq("vstr", "vlong", "vdbl", "vbool", "vts", "vref", "vbin")
  val columns: Seq[String] = Seq("e", "a", "vtype") ++ valueCols :+ "txId"
  /** Columns identifying a fact for set semantics (txId excluded). */
  val factCols: Seq[String] = Seq("e", "a", "vtype") ++ valueCols

  val schema: StructType = StructType(Seq(
    StructField("e", StringType), StructField("a", StringType),
    StructField("vtype", StringType), StructField("vstr", StringType),
    StructField("vlong", LongType), StructField("vdbl", DoubleType),
    StructField("vbool", BooleanType), StructField("vts", TimestampNTZType),
    StructField("vref", StringType), StructField("vbin", BinaryType),
    StructField("txId", LongType)))

  /** Typed value column holding values of the given vtype. */
  def valueColFor(vtype: String): String = vtype match {
    case VStr => "vstr"; case VLong => "vlong"; case VDbl => "vdbl"
    case VBool => "vbool"; case VTs => "vts"; case VRef => "vref"
    case VBin => "vbin"
    case other => sys.error(s"unknown vtype $other")
  }

  /** vtype tag for a Spark column type (ingest-side mapping). */
  def vtypeForDataType(dt: DataType): String = dt match {
    case StringType => VStr
    case ByteType | ShortType | IntegerType | LongType => VLong
    case FloatType | DoubleType => VDbl
    case _: DecimalType => VDbl
    case BooleanType => VBool
    case TimestampType | TimestampNTZType | DateType => VTs
    case BinaryType => VBin
    case other => sys.error(s"unsupported scan type $other (reference supports JSON scalars only, tripl.py:28-33)")
  }

  /** Uniform (a, vtype, v*) struct for the single-pass row flattener: every
    * source column becomes one element of an `array(struct(...))` that is
    * exploded — ONE scan, one narrow Generate, no shuffle (SURVEY.md W2).
    */
  def valueStruct(attr: Column, vtype: String, value: Column): Column = {
    val slots = valueCols.map { vc =>
      if (vc == valueColFor(vtype)) value.cast(schema(vc).dataType).as(vc)
      else lit(null).cast(schema(vc).dataType).as(vc)
    }
    struct(attr.as("a") +: lit(vtype).as("vtype") +: slots: _*)
  }

  /** True when the exploded struct carries a non-null value — null source
    * columns produce NO triple (EAV stores have no nulls). */
  def structHasValue(t: Column): Column =
    valueCols.map(vc => t.getField(vc).isNotNull).reduce(_ || _)

  /** Coalesced string rendering of the value, for wildcard pulls and
    * Datalog variable joins where the type is data-dependent. */
  def valueAsString(prefix: String = ""): Column = {
    def c(n: String) = col(prefix + n)
    coalesce(c("vstr"), c("vref"), c("vlong").cast(StringType),
      c("vdbl").cast(StringType), c("vbool").cast(StringType),
      c("vts").cast(StringType), c("vbin").cast(StringType))
  }
}

/** Per-attribute schema — the reference stores this in-band as triples
  * hanging off 'db:schema' (tripl.py:281-297); engine-side it is a small
  * driver map broadcast into plans (SURVEY.md §1.5).
  *
  * @param cardOne   db:cardinality = db.cardinality:one (upsert semantics)
  * @param isRef     db:valueType = db.type:ref
  * @param vtype     value type tag for typed column selection
  */
case class AttrSchema(attr: String, cardOne: Boolean, isRef: Boolean, vtype: String)
