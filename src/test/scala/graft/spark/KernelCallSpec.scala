package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.InvokeLike
import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Every kernel column of the Column API, table-driven: generated code
  * against the interpreter, null arguments, result types, constant
  * folding, the SQL surface and common-subexpression elimination. */
class KernelCallSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s)
    s
  }

  private val Rows = 48

  /** Argument columns, none nullable. Payloads are truncated on every fifth
    * row, so the decoders also see bytes they must reject; seeds and
    * resize factors include negative values. */
  private def base(s: SparkSession): DataFrame = {
    val id = col("id")
    def payload(c: Column): Column =
      coalesce(when(id % 5 === 4, substring(c, 1, 24)).otherwise(c), lit(Array.emptyByteArray))
    s.range(0, Rows).select(id,
      (id * 7.3 - 180).as("lon"), (id * 3.3 - 80).as("lat"),
      (-id * 6.9 + 170).as("lon2"), (-id * 3.1 + 75).as("lat2"))
      .select(col("*"),
        (col("lon") + 1.0).as("lon_e"), (col("lat") + 1.0).as("lat_n"),
        (col("lon") * 100000.0).as("x"), (col("lat") * 100000.0).as("y"),
        (id * 10.0).as("h"), lit(2020.0).as("epoch"),
        (id * 0.4 + 0.5).as("ed_lon"), (id * 0.4 + 40.25).as("ed_lat"),
        (id * 1000.0 + 300000.0).as("ed_x"), (id * 1000.0 + 4500000.0).as("ed_y"),
        (id - 24).cast("int").as("q"), (id * 2 - 48).cast("int").as("r"),
        lit(12).as("level"), lit(6).as("coarse"), lit(10).as("zoom"), lit(1).as("rings"),
        lit(4).as("n"), lit(50000.0).as("size"), lit(16).as("dim"),
        array(col("lon") - 1, col("lat") - 1, col("lon") + 1, col("lat") - 1,
          col("lon") + 1, col("lat") + 1, col("lon") - 1, col("lat") + 1).as("ring"),
        split(format_string("w%d x%d w%d y%d", id % 7, id % 13, id % 5, id), " ").as("words"),
        concat(lit(" "), lower(format_string("The %d and la nación de %d", id, id % 9)),
          lit(" ")).as("prepared"),
        format_string("mail u%d@b.co call +1-202-555-%04d", id, id).as("text"),
        format_string("media://%x", id).as("ref"),
        (id - 8).as("seed"), (id * 1000003).as("key"), lit(97L).as("m"),
        when(id === 7, lit(4294967298L)).otherwise(id - 2).as("factor"),
        payload(MediaFunctions.mediaEncode(id)).as("payload"),
        payload(MediaFunctions.mediaEncodeJpeg(id)).as("jpeg"),
        payload(MediaFunctions.mediaEncodeJpegProg(id)).as("jpeg_prog"))
  }

  /** A kernel column over `base` columns, the graft_* SQL call of the same
    * builder (over the same column names), and its pinned result type and
    * nullability (with non-null arguments / with nullable arguments): the
    * schema of every query using the kernel depends on them. */
  private case class Kernel(name: String, args: Seq[String], call: Seq[Column] => Column,
                            sql: Option[String], pinned: String)

  private val Webmerc = "proj=webmerc ellps=WGS84"

  private val kernels: Seq[Kernel] = Seq(
    Kernel("s2Cell", Seq("lon", "lat", "level"), a => GeoFunctions.s2Cell(a(0), a(1), a(2)),
      Some("graft_s2_cell(lon, lat, level)"), "bigint false true"),
    Kernel("tileKey", Seq("lon", "lat", "zoom"), a => GeoFunctions.tileKey(a(0), a(1), a(2)),
      Some("graft_tile_key(lon, lat, zoom)"), "bigint false true"),
    Kernel("utmZone", Seq("lon"), a => GeoFunctions.utmZone(a(0)),
      Some("graft_utm_zone(lon)"), "int false true"),
    Kernel("geodesicDistance", Seq("lon", "lat", "lon2", "lat2"),
      a => GeoFunctions.geodesicDistance(a(0), a(1), a(2), a(3)),
      Some("graft_geodesic_distance(lon, lat, lon2, lat2)"), "double false true"),
    Kernel("pointInRing", Seq("lon", "lat2", "ring"),
      a => GeoFunctions.pointInRing(a(0), a(1), a(2)),
      Some("graft_point_in_ring(lon, lat2, ring)"), "boolean false true"),
    Kernel("s2FaceUv", Seq("lon", "lat"), a => GeoFunctions.s2FaceUv(a(0), a(1)),
      Some("graft_s2_face_uv(lon, lat)"), "struct<face:int!,u:double!,v:double!> false true"),
    Kernel("ringCells", Seq("lon", "lat", "level", "rings"),
      a => GeoFunctions.ringCells(a(0), a(1), a(2), a(3)),
      Some("graft_ring_cells(lon, lat, level, rings)"), "array<bigint!> false true"),
    Kernel("coverCells", Seq("ring", "coarse"), a => GeoFunctions.coverCells(a(0), a(1)),
      Some("graft_cover_cells(ring, coarse)"), "array<bigint!> false true"),
    Kernel("polygonMetrics", Seq("ring"), a => GeoFunctions.polygonMetrics(a(0)),
      Some("graft_polygon_metrics(ring)"),
      "struct<perimeter_m:double!,area_m2:double!> false true"),
    Kernel("geodesicWaypoints", Seq("lon", "lat", "lon2", "lat2", "n"),
      a => GeoFunctions.geodesicWaypoints(a(0), a(1), a(2), a(3), a(4)),
      Some("graft_geodesic_waypoints(lon, lat, lon2, lat2, n)"), "array<double!> false true"),
    Kernel("hexBin", Seq("x", "y", "size"), a => GeoFunctions.hexBin(a(0), a(1), a(2)),
      Some("graft_hex_bin(x, y, size)"), "struct<q:int!,r:int!> false true"),
    Kernel("hexCenter", Seq("q", "r", "size"), a => GeoFunctions.hexCenter(a(0), a(1), a(2)),
      Some("graft_hex_center(q, r, size)"), "struct<x:double!,y:double!> false true"),
    Kernel("hexRing", Seq("q", "r", "rings"), a => GeoFunctions.hexRing(a(0), a(1), a(2)),
      Some("graft_hex_ring(q, r, rings)"), "array<struct<q:int!,r:int!>!> false true"),
    Kernel("globalHexCell", Seq("lon", "lat", "size"),
      a => GeoFunctions.globalHexCell(a(0), a(1), a(2)),
      Some("graft_global_hex(lon, lat, size)"), "struct<q:int!,r:int!> false true"),
    Kernel("projTrans2", Seq("lon", "lat"), a => ProjFunctions.projTrans2(a(0), a(1), Webmerc),
      Some(s"graft_proj_trans(lon, lat, '$Webmerc')"),
      "struct<x:double!,y:double!,z:double!,t:double!,err:int!> false true"),
    Kernel("projTrans", Seq("lon", "lat", "h", "epoch"),
      a => ProjFunctions.projTrans(a(0), a(1), a(2), a(3), "proj=cart ellps=GRS80"),
      None, "struct<x:double!,y:double!,z:double!,t:double!,err:int!> false true"),
    Kernel("projTransInv2", Seq("x", "y"), a => ProjFunctions.projTransInv2(a(0), a(1), Webmerc),
      None, "struct<x:double!,y:double!,z:double!,t:double!,err:int!> false true"),
    Kernel("crsToCrs2", Seq("lon", "lat"),
      a => ProjFunctions.crsToCrs2(a(0), a(1), "EPSG:4326", "EPSG:32633"), None,
      "struct<x:double!,y:double!,z:double!,t:double!,err:int!> false true"),
    Kernel("crsToCrsRegistry", Seq("ed_x", "ed_y"),
      a => ProjFunctions.crsToCrsRegistry(a(0), a(1), "EPSG:23031", "EPSG:25831"),
      Some("graft_crs_registry(ed_x, ed_y, 'EPSG:23031', 'EPSG:25831')"),
      "struct<x:double!,y:double!,z:double!,t:double!,err:int!> false true"),
    Kernel("crsToCrsDispatch", Seq("ed_lon", "ed_lat"),
      a => ProjFunctions.crsToCrsDispatch(a(0), a(1), "EPSG:4230", "EPSG:4326"),
      Some("graft_crs_dispatch(ed_lon, ed_lat, 'EPSG:4230', 'EPSG:4326')"),
      "struct<op:int!,x:double!,y:double!,z:double!,err:int!> false true"),
    Kernel("utmNative", Seq("lon", "lat"), a => ProjFunctions.utmNative(a(0), a(1)),
      Some("graft_utm_native(lon, lat)"),
      "struct<zone:int!,south:boolean!,x:double!,y:double!> false true"),
    Kernel("projFactors", Seq("lon", "lat"),
      a => ProjFunctions.projFactors(a(0), a(1), "proj=merc ellps=WGS84"),
      Some("graft_proj_factors(lon, lat, 'proj=merc ellps=WGS84')"),
      "struct<h:double!,k:double!,s:double!,omega:double!,conv:double!> false true"),
    Kernel("projTransBounds", Seq("lon", "lat", "lon_e", "lat_n"),
      a => ProjFunctions.projTransBounds(a(0), a(1), a(2), a(3), Webmerc),
      Some(s"graft_trans_bounds(lon, lat, lon_e, lat_n, '$Webmerc')"),
      "struct<xmin:double!,ymin:double!,xmax:double!,ymax:double!> false true"),
    Kernel("mediaEncode", Seq("id"), a => MediaFunctions.mediaEncode(a(0)), None,
      "binary true true"),
    Kernel("mediaEncodeRef", Seq("ref"), a => MediaFunctions.mediaEncodeRef(a(0)), None,
      "binary true true"),
    Kernel("mediaInfo", Seq("payload"), a => MediaFunctions.mediaInfo(a(0)), None,
      "struct<kind:string,width:int!,height:int!,sample_rate:int!,channels:int!> true true"),
    Kernel("mediaFeature", Seq("payload", "dim"),
      a => MediaFunctions.mediaFeature(a(0), a(1)), None, "array<float!> true true"),
    Kernel("pngPixelStats", Seq("payload"), a => MediaFunctions.pngPixelStats(a(0)), None,
      "struct<n_px:bigint!,px_sum:bigint!,px_poly:bigint!> true true"),
    Kernel("wavSampleStats", Seq("payload"), a => MediaFunctions.wavSampleStats(a(0)),
      None, "struct<n_smp:bigint!,smp_sum:bigint!,smp_poly:bigint!> true true"),
    Kernel("mediaEncodeJpeg", Seq("seed"), a => MediaFunctions.mediaEncodeJpeg(a(0)),
      None, "binary true true"),
    Kernel("jpegPixelStats", Seq("jpeg"), a => MediaFunctions.jpegPixelStats(a(0)),
      None, "struct<n_px:bigint,px_sum:bigint,px_poly:bigint> true true"),
    Kernel("jpegResizeStats", Seq("jpeg", "factor"),
      a => MediaFunctions.jpegResizeStats(a(0), a(1)), None,
      "struct<n_px:bigint,px_sum:bigint,px_poly:bigint> true true"),
    Kernel("mediaEncodeJpegProg", Seq("seed"), a => MediaFunctions.mediaEncodeJpegProg(a(0)),
      None, "binary true true"),
    Kernel("jpegPixelStatsProg", Seq("jpeg_prog"),
      a => MediaFunctions.jpegPixelStatsProg(a(0)), None,
      "struct<n_px:bigint,px_sum:bigint,px_poly:bigint,px_chk:bigint> true true"),
    Kernel("simhashBucketShared", Seq("words"),
      a => TextFunctions.simhashBucketShared(a(0)), None, "bigint false true"),
    Kernel("langScores", Seq("prepared"), a => TextFunctions.langScores(a(0)), None,
      "struct<en:int!,es:int!,fr:int!,de:int!,pred:string!> false true"),
    Kernel("sampleHash", Seq("key", "m"), a => TextFunctions.sampleHash(a(0), a(1)),
      Some("graft_sample_hash(key, m)"), "bigint false true"),
    Kernel("scrubPii", Seq("text"), a => TrainingOps.scrubPii(a(0)),
      Some("graft_scrub_pii(text)"), "string false true"))

  private def args(k: Kernel): Seq[Column] = k.args.map(col)

  /** null on every third row */
  private def nulled(c: Column): Column = when(col("id") % 3 === 0, lit(null)).otherwise(c)

  /** a type with the nullability of every nested field and element */
  private def sig(t: DataType): String = t match {
    case s: StructType =>
      s.fields.map(f => s"${f.name}:${sig(f.dataType)}${if (f.nullable) "" else "!"}")
        .mkString("struct<", ",", ">")
    case a: ArrayType => s"array<${sig(a.elementType)}${if (a.containsNull) "" else "!"}>"
    case _ => t.simpleString
  }

  private def pinnedOf(k: Kernel): String = {
    val plain = base(spark).select(k.call(args(k))).schema.head
    val allNulled = base(spark).select(k.call(args(k).map(nulled))).schema.head
    s"${sig(plain.dataType)} ${plain.nullable} ${allNulled.nullable}"
  }

  test("result types and nullability equal the pinned values") {
    kernels.foreach(k => assert(pinnedOf(k) == k.pinned, k.name))
  }

  test("every kernel column: CODEGEN_ONLY equals NO_CODEGEN; a null argument gives null") {
    val codegen = EvalPaths.codegenOnly(spark)
    val interpreted = EvalPaths.interpreted(spark)
    kernels.foreach { k =>
      def run(s: SparkSession): (Seq[Row], DataFrame) = {
        val df = base(s).select(col("id") +: k.call(args(k)) +:
          k.args.indices.map(i => k.call(args(k).updated(i, nulled(args(k)(i))))): _*)
          .orderBy("id")
        (df.collect().toSeq, df)
      }
      val (cg, cgDf) = run(codegen)
      val (interp, _) = run(interpreted)
      assert(EvalPaths.inCodegenStage(cgDf).exists(_.isInstanceOf[ProjectExec]),
        s"${k.name}: ${cgDf.queryExecution.executedPlan}")
      assert(cg == interp, k.name)
      cg.foreach { r =>
        val nullRow = r.getLong(0) % 3 == 0
        k.args.indices.foreach(i =>
          assert(!nullRow || r.isNullAt(2 + i), s"${k.name}: argument $i null, row $r"))
      }
    }
  }

  test("all-literal calls fold to the row-wise values, several per SELECT each keeping its own") {
    val codegen = EvalPaths.codegenOnly(spark)
    val sample = 3
    kernels.foreach { k =>
      val rowWise = base(codegen).where(col("id") < sample).orderBy("id")
        .select(k.call(args(k))).collect().map(_.get(0)).toSeq
      val b = base(spark)
      val types = k.args.map(a => b.schema(a).dataType)
      val values = b.where(col("id") < sample).orderBy("id").select(args(k): _*).collect()
      val folded = spark.range(1).select(values.toSeq.map(row =>
        k.call(types.indices.map(i => Bridge.column(Literal.create(row.get(i), types(i)))))): _*)
      assert(folded.queryExecution.optimizedPlan.expressions
        .forall(_.find(_.isInstanceOf[InvokeLike]).isEmpty),
        s"${k.name} not folded: ${folded.queryExecution.optimizedPlan}")
      assert(folded.collect().head == Row.fromSeq(rowWise), k.name)
    }
  }

  test("one kernel column used twice over shadowed arguments in one stage keeps each value") {
    val codegen = EvalPaths.codegenOnly(spark)
    val b = base(codegen)
    def shift(c: Column): Column = c * 0.5 + 1.0
    val unchanged = kernels.filter(k => b.schema(k.args.head).dataType == DoubleType).filter { k =>
      val doubles = k.args.take(2).filter(a => b.schema(a).dataType == DoubleType)
      val c = k.call(args(k))
      val reused = doubles.foldLeft(b.withColumn("a", c))((df, a) => df.withColumn(a, shift(col(a))))
        .withColumn("b", c).select("id", "a", "b").orderBy("id")
      val apart = b.select(col("id"), k.call(args(k)).as("a"),
        k.call(k.args.map(a => if (doubles.contains(a)) shift(col(a)) else col(a))).as("b"))
        .orderBy("id")
      val got = reused.collect().toSeq
      assert(EvalPaths.inCodegenStage(reused).exists(_.isInstanceOf[ProjectExec]),
        s"${k.name}: ${reused.queryExecution.executedPlan}")
      assert(got == apart.collect().toSeq, k.name)
      got.forall(r => r.get(1) == r.get(2))
    }
    // pointInRing's shifted points stay outside the rings
    assert(unchanged.map(_.name) == Seq("pointInRing"))
  }

  test("one kernel column folded in two queries keeps each query's value") {
    kernels.filter(k => k.args == Seq("lon", "lat")).foreach { k =>
      val c = k.call(args(k))
      def at(lon: Double): DataFrame =
        spark.range(1).select(lit(lon).as("lon"), lit(10.0).as("lat")).select(c)
      val first = at(1.0)
      assert(first.queryExecution.optimizedPlan.expressions
        .forall(_.find(_.isInstanceOf[InvokeLike]).isEmpty), k.name)
      val want = first.collect().toSeq
      val second = at(2.0)
      assert(second.collect().toSeq != want, k.name)
      assert(first.collect().toSeq == want, k.name)
    }
  }

  test("every graft_* SQL function builds the expression of its Column function") {
    val withSql = kernels.filter(_.sql.isDefined)
    assert(withSql.map(_.sql.get.takeWhile(_ != '(')).toSet ==
      GraftExtensions.functions.map(_._1).toSet)
    base(spark).createOrReplaceTempView("kernel_args")
    withSql.foreach { k =>
      val viaSql = spark.sql(s"SELECT ${k.sql.get} AS v FROM kernel_args")
      val viaColumn = spark.table("kernel_args").select(k.call(args(k)).as("v"))
      val (sqlPlan, columnPlan) =
        (viaSql.queryExecution.optimizedPlan, viaColumn.queryExecution.optimizedPlan)
      assert(sqlPlan.sameResult(columnPlan), s"${k.name}:\n$sqlPlan\n$columnPlan")
    }
  }

  test("equal transforms built apart are one common subexpression") {
    val codegen = EvalPaths.codegenOnly(spark)
    def calls(df: DataFrame, cls: String): Int = {
      df.collect()
      s"\\(\\($cls\\) references\\[".r.findAllIn(codegenString(df.queryExecution.executedPlan))
        .size
    }
    val b = base(codegen)
    val wm = b.select(ProjFunctions.projTrans2(col("lon"), col("lat"), Webmerc).getField("x"),
      ProjFunctions.projTrans2(col("lon"), col("lat"), Webmerc).getField("y"))
    assert(calls(wm, classOf[ProjTransCall].getName) == 1)
    val other = b.select(ProjFunctions.projTrans2(col("lon"), col("lat"), Webmerc).getField("x"),
      ProjFunctions.projTrans2(col("lat"), col("lon"), Webmerc).getField("x"))
    assert(calls(other, classOf[ProjTransCall].getName) == 2)
    val hex = b.select(GeoFunctions.globalHexCell(col("lon"), col("lat"), col("size")))
    assert(calls(hex, classOf[ProjTransCall].getName) == 1)
  }
}
