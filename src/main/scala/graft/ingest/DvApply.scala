package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deletion vectors applied inside the data scan, with no Spark job.
  *
  * A DV dir is immutable, so its key set is read once, on the driver,
  * through Spark's own parquet reader, and kept in a bounded LRU
  * ([[CacheRows]] key tuples over all DVs). A read then filters each
  * key-set group with one [[DvDeleted]] predicate whose [[DvProbe]] maps
  * the owning dir's basename to its DV's key set. The probe rides the
  * generated code as a reference object, so the compiled class depends
  * only on the key types, never on which keys a DV holds.
  *
  * The predicate has the semantics of a left anti-join on (dir, keys): a
  * null key component never matches, float and double keys are
  * normalized (NaN equals NaN, -0.0 equals 0.0) as Spark's join
  * normalizes them, and keys compare in the wider of the DV's and the
  * data column's type (a DV written before an ALTER TYPE widening
  * matches the widened column). */
private[ingest] object DvApply {

  /** Key tuples the driver caches over all DVs: about 50–100 bytes each
    * on the heap, so at most ~25 MB. A DV larger than this is never
    * cached; it is read again on every use, and counted. */
  val CacheRows = 1 << 18

  /** The key set of one DV dir, in the DV file's own types: single-key
    * tuples are the normalized value itself ([[DvProbe.norm]]), wider
    * ones a `java.util.List` of them. Tuples with a null component are
    * dropped: they can never match. */
  final class Keys(val schema: StructType, val set: java.util.HashSet[AnyRef])

  /** An LRU of key sets bounded by total tuples, with the counters that
    * make every re-read visible: `loads` counts reads from storage,
    * `evictions` sets dropped for room, `overBound` sets too large to
    * keep. */
  final class Lru(bound: Int) {
    private val map = new java.util.LinkedHashMap[String, Keys](16, 0.75f, true)
    private var rows = 0L
    val loads = new java.util.concurrent.atomic.AtomicLong
    val evictions = new java.util.concurrent.atomic.AtomicLong
    val overBound = new java.util.concurrent.atomic.AtomicLong

    def cached(k: String): Boolean = synchronized(map.containsKey(k))

    def get(k: String)(load: => Keys): Keys =
      synchronized(Option(map.get(k))).getOrElse {
        val v = load
        loads.incrementAndGet()
        if (v.set.size > bound) overBound.incrementAndGet()
        else synchronized {
          Option(map.put(k, v)).foreach(old => rows -= old.set.size)
          rows += v.set.size
          val it = map.entrySet.iterator
          while (rows > bound && it.hasNext) {
            val e = it.next()
            if (e.getKey != k) {
              rows -= e.getValue.set.size
              it.remove()
              evictions.incrementAndGet()
            }
          }
        }
        v
      }

    def clear(): Unit = synchronized { map.clear(); rows = 0L }
  }

  val cache = new Lru(CacheRows)

  /** The key set of the DV dir `absDir` (`schema` and leaf `files` from
    * its cached footer read): from the cache, else read on the driver.
    * Paths the direct reader cannot open (the footer read's own fallback
    * hands over the dir itself) are read through one collect job, with a
    * warning. */
  def keys(spark: SparkSession, absDir: String, schema: StructType,
      files: Seq[String]): Keys =
    cache.get(absDir) {
      val set = new java.util.HashSet[AnyRef]()
      val key = tupleOf(schema)
      def add(r: InternalRow): Unit = key(r).foreach(set.add)
      scala.util.Try(readOnDriver(spark, schema, files)(add)).recover {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"deletion vector $absDir: driver-side read failed ($e); " +
              "reading it through a Spark job")
          set.clear()
          spark.read.schema(schema).parquet(files: _*)
            .queryExecution.toRdd.map(_.copy()).collect().foreach(add)
      }.get
      new Keys(schema, set)
    }

  private def readOnDriver(spark: SparkSession, schema: StructType,
      files: Seq[String])(f: InternalRow => Unit): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark,
      schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    files.foreach { p =>
      val path = new Path(p)
      val st = path.getFileSystem(conf).getFileStatus(path)
      // rows may be views of a reused batch: copy before keeping
      read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath),
        0L, st.getLen, Array.empty[String], st.getModificationTime, st.getLen))
        .foreach(r => f(r.copy()))
    }
  }

  /** A row's key tuple ([[Keys]]), None when a component is null. Key
    * types whose equality a set cannot reproduce (collated strings,
    * nested types) are refused. */
  private def tupleOf(schema: StructType): InternalRow => Option[AnyRef] = {
    val types = schema.map(_.dataType).toArray
    types.foreach {
      case s: StringType if s != StringType => throw new UnsupportedOperationException(
        s"deletion vector keys of collated type ${s.simpleString}")
      case _: StringType | BinaryType | BooleanType | _: NumericType | DateType |
          TimestampType | TimestampNTZType =>
      case t => throw new UnsupportedOperationException(
        s"deletion vector keys of type ${t.simpleString}")
    }
    r => {
      val vs = types.indices.map(i =>
        if (r.isNullAt(i)) null else DvProbe.norm(r.get(i, types(i))))
      if (vs.contains(null)) None else Some(tuple(vs))
    }
  }

  private def tuple(vs: Seq[AnyRef]): AnyRef =
    if (vs.size == 1) vs.head else java.util.Arrays.asList(vs: _*)

  /** The components of a key tuple as Spark internal values. */
  def components(t: AnyRef): Seq[AnyRef] = t match {
    case l: java.util.List[_] =>
      (0 until l.size).map(i => DvProbe.denorm(l.get(i).asInstanceOf[AnyRef]))
    case v => Seq(DvProbe.denorm(v))
  }

  /** The compare type of a DV column against a data column: the wider
    * of the two, as Spark's join type coercion picks it. */
  def compareType(dv: DataType, data: DataType): DataType =
    if (dv == data) data
    else org.apache.spark.sql.catalyst.analysis.TypeCoercion
      .findWiderTypeForTwo(dv, data).getOrElse(throw new IllegalStateException(
        s"deletion vector key type ${dv.simpleString} cannot be compared " +
          s"with the data column's ${data.simpleString}"))

  /** `k`'s set with every component cast to `types` (the set itself when
    * the DV already has them). */
  def keysIn(k: Keys, types: Seq[DataType], tz: String): java.util.HashSet[AnyRef] = {
    val from = k.schema.map(_.dataType)
    if (from == types) k.set
    else {
      val out = new java.util.HashSet[AnyRef]()
      k.set.forEach(t => out.add(tuple(components(t).zip(from.zip(types)).map {
        case (v, (f, to)) => if (f == to) DvProbe.norm(v)
          else DvProbe.norm(Cast(Literal(v, f), to, Some(tz)).eval().asInstanceOf[AnyRef])
      })))
      out
    }
  }
}

/** A binary key with value equality (a byte array compares by identity). */
private[ingest] final class DvBytes(val bytes: Array[Byte]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case b: DvBytes => java.util.Arrays.equals(bytes, b.bytes)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(bytes)
}

/** Per-dir DV key sets of one key-set group, keyed by the data dir's
  * basename (a DV shared by several dirs is one set under each). A probe
  * names the dir by a data file's path, resolved to its dir once per
  * file, or by the basename itself. `id` names the (dir, DV file,
  * compare type) triples the sets come from; DV files are immutable, so
  * two probes of one id hold the same sets and compare equal (two reads
  * of one table plan equal, and a cached read is found again). */
private[ingest] final class DvProbe(
    byDir: java.util.HashMap[String, java.util.HashSet[AnyRef]],
    val id: String) extends Serializable {
  @transient @volatile private var memo: (UTF8String, java.util.HashSet[AnyRef]) = _

  private def setOf(dir: UTF8String): java.util.HashSet[AnyRef] = {
    val m = memo
    if (m != null && ((m._1 eq dir) || m._1 == dir)) m._2
    else {
      val s = if (dir == null) null else byDir.get(DvProbe.dirName(dir.toString))
      memo = (if (dir == null) null else dir.clone(), s)
      s
    }
  }

  /** Whether the one-column key `k` of a row in `dir` is deleted. */
  def deleted1(dir: UTF8String, k: AnyRef): Boolean =
    k != null && { val s = setOf(dir); s != null && s.contains(DvProbe.norm(k)) }

  /** Whether the key `ks` of a row in `dir` is deleted (`ks` is reused). */
  def deleted(dir: UTF8String, ks: Array[AnyRef]): Boolean = {
    var i = 0
    while (i < ks.length) {
      if (ks(i) == null) return false
      ks(i) = DvProbe.norm(ks(i))
      i += 1
    }
    val s = setOf(dir)
    s != null && s.contains(java.util.Arrays.asList(ks: _*))
  }

  override def equals(o: Any): Boolean = o match {
    case p: DvProbe => p.id == id
    case _ => false
  }
  override def hashCode: Int = id.hashCode
  override def toString: String = s"DvProbe(${byDir.size} dirs)"
}

private[ingest] object DvProbe {
  private val NaNF = java.lang.Float.valueOf(Float.NaN)
  private val ZeroF = java.lang.Float.valueOf(0.0f)
  private val NaND = java.lang.Double.valueOf(Double.NaN)
  private val ZeroD = java.lang.Double.valueOf(0.0)

  /** A key component in the form the sets hold: floats and doubles
    * normalized as Spark's join normalizes them, binary by value. */
  def norm(v: AnyRef): AnyRef = v match {
    case f: java.lang.Float =>
      if (f.isNaN) NaNF else if (f.floatValue == 0.0f) ZeroF else f
    case d: java.lang.Double =>
      if (d.isNaN) NaND else if (d.doubleValue == 0.0) ZeroD else d
    case b: Array[Byte] => new DvBytes(b)
    case o => o
  }

  def denorm(v: AnyRef): AnyRef = v match {
    case b: DvBytes => b.bytes
    case o => o
  }

  /** The data dir a file path lies in — its last `data_`/`_dv_` segment
    * that is not a hive `k=v` segment, exactly as
    * [[ManifestCommit.dirIdCol]] picks it — or the name itself when it
    * is already a basename. */
  def dirName(path: String): String =
    if (path.indexOf('/') < 0) path
    else {
      val segs = path.split('/')
      var i = segs.length - 2
      while (i >= 0 && !((segs(i).startsWith("data_") ||
          segs(i).startsWith("_dv_")) && !segs(i).contains("="))) i -= 1
      if (i < 0) null else segs(i)
    }
}

/** True on a row whose key a DV deletes: `dir` names the row's data dir
  * (a file path or a basename), `keys` are the key columns in their
  * compare types. Never null. */
private[ingest] final case class DvDeleted(dir: Expression, keys: Seq[Expression],
    probe: DvProbe) extends Expression {
  override def children: Seq[Expression] = dir +: keys
  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def toString: String = s"dv_deleted(${children.mkString(", ")})"

  override def eval(input: InternalRow): Any = {
    val d = dir.eval(input).asInstanceOf[UTF8String]
    if (keys.size == 1) probe.deleted1(d, keys.head.eval(input).asInstanceOf[AnyRef])
    else probe.deleted(d, keys.map(_.eval(input).asInstanceOf[AnyRef]).toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("dvProbe", probe, classOf[DvProbe].getName)
    val d = dir.genCode(ctx)
    val ks = keys.map(_.genCode(ctx))
    def boxed(e: Expression, c: ExprCode): String =
      if (CodeGenerator.isPrimitiveType(e.dataType))
        s"${c.isNull} ? null : (Object) ${CodeGenerator.boxedType(e.dataType)}.valueOf(${c.value})"
      else s"${c.isNull} ? null : (Object) ${c.value}"
    val dv = s"${d.isNull} ? null : ${d.value}"
    val call =
      if (keys.size == 1) s"$p.deleted1($dv, ${boxed(keys.head, ks.head)});"
      else {
        val arr = ctx.freshName("dvKey")
        s"Object[] $arr = new Object[${keys.size}];\n" +
          keys.indices.map(i => s"$arr[$i] = ${boxed(keys(i), ks(i))};").mkString("\n") +
          s"\nboolean ${ev.value} = $p.deleted($dv, $arr);"
      }
    val assign = if (keys.size == 1) s"boolean ${ev.value} = $call" else call
    ev.copy(code = code"""
      ${d.code}
      ${Block.blocksToBlock(ks.map(_.code))}
      $assign""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): DvDeleted = copy(dir = c.head, keys = c.tail)
}
