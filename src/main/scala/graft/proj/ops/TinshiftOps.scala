package graft.proj.ops

import graft.core.{Coord, ProjErr, ProjError}
import graft.proj._
import OpKernel._

/** tinshift — triangulation (TIN) based transformation.
  *
  * Semantics per reference src/transformations/tinshift.cpp:38-188 and
  * tinshift_json_impl.hpp (parse :79-365, FindTriangle with nearest_side /
  * nearest_centroid fallback :462-600, forward :605-650, inverse :654-695).
  * The triangulation JSON format is the public PROJ "triangulation_file"
  * spec. We search triangles linearly in file order (the reference's
  * non-quadtree branch) — model files are small and live on every executor.
  */
object TinshiftOps {

  // ---------------- minimal JSON ----------------

  sealed trait JVal
  final case class JObj(fields: Map[String, JVal]) extends JVal
  final case class JArr(items: Vector[JVal]) extends JVal
  final case class JStr(s: String) extends JVal
  /** unsigned = integral literal without sign/fraction/exponent */
  final case class JNum(v: Double, unsigned: Boolean) extends JVal
  final case class JBool(b: Boolean) extends JVal
  case object JNull extends JVal

  final class JsonException(msg: String) extends RuntimeException(msg)

  object Json {
    def parse(text: String): JVal = {
      val p = new Parser(text)
      val v = p.value(0)
      p.ws()
      if (!p.eof) throw new JsonException("trailing content")
      v
    }

    private final class Parser(s: String) {
      private var i = 0
      def eof: Boolean = i >= s.length
      def ws(): Unit = { while (i < s.length && s.charAt(i).isWhitespace) i += 1 }
      private def fail(msg: String): Nothing = throw new JsonException(s"$msg at $i")
      private def expect(c: Char): Unit = {
        if (eof || s.charAt(i) != c) fail(s"expected '$c'"); i += 1
      }
      def value(depth: Int): JVal = {
        if (depth >= 128) fail("too deep nesting")
        ws()
        if (eof) fail("unexpected end")
        s.charAt(i) match {
          case '{' =>
            i += 1; ws()
            val b = Map.newBuilder[String, JVal]
            if (!eof && s.charAt(i) == '}') { i += 1; return JObj(b.result()) }
            var done = false
            while (!done) {
              ws()
              val k = string()
              ws(); expect(':')
              b += (k -> value(depth + 1))
              ws()
              if (!eof && s.charAt(i) == ',') i += 1
              else { expect('}'); done = true }
            }
            JObj(b.result())
          case '[' =>
            i += 1; ws()
            val b = Vector.newBuilder[JVal]
            if (!eof && s.charAt(i) == ']') { i += 1; return JArr(b.result()) }
            var done = false
            while (!done) {
              b += value(depth + 1)
              ws()
              if (!eof && s.charAt(i) == ',') i += 1
              else { expect(']'); done = true }
            }
            JArr(b.result())
          case '"' => JStr(string())
          case 't' =>
            if (s.startsWith("true", i)) { i += 4; JBool(true) } else fail("bad literal")
          case 'f' =>
            if (s.startsWith("false", i)) { i += 5; JBool(false) } else fail("bad literal")
          case 'n' =>
            if (s.startsWith("null", i)) { i += 4; JNull } else fail("bad literal")
          case c if c == '-' || (c >= '0' && c <= '9') => number()
          case c => fail(s"unexpected '$c'")
        }
      }
      private def string(): String = {
        expect('"')
        val sb = new StringBuilder
        while (!eof && s.charAt(i) != '"') {
          val c = s.charAt(i)
          if (c == '\\') {
            i += 1
            if (eof) fail("bad escape")
            s.charAt(i) match {
              case '"' => sb += '"'
              case '\\' => sb += '\\'
              case '/' => sb += '/'
              case 'b' => sb += '\b'
              case 'f' => sb += '\f'
              case 'n' => sb += '\n'
              case 'r' => sb += '\r'
              case 't' => sb += '\t'
              case 'u' =>
                if (i + 4 >= s.length) fail("bad unicode escape")
                sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
                i += 4
              case _ => fail("bad escape")
            }
          } else sb += c
          i += 1
        }
        expect('"')
        sb.result()
      }
      private def number(): JNum = {
        val start = i
        if (!eof && s.charAt(i) == '-') i += 1
        while (!eof && s.charAt(i).isDigit) i += 1
        var integral = true
        if (!eof && s.charAt(i) == '.') {
          integral = false; i += 1
          while (!eof && s.charAt(i).isDigit) i += 1
        }
        if (!eof && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
          integral = false; i += 1
          if (!eof && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
          while (!eof && s.charAt(i).isDigit) i += 1
        }
        val lit = s.substring(start, i)
        if (lit.isEmpty || lit == "-") fail("bad number")
        JNum(lit.toDouble, integral && !lit.startsWith("-"))
      }
    }
  }

  // ---------------- model ----------------

  private final val FB_NONE = 0
  private final val FB_NEAREST_SIDE = 1
  private final val FB_NEAREST_CENTROID = 2

  final class TinModel(text: String) {
    private def parseFail(msg: String): Nothing = throw new JsonException(msg)
    private val root = Json.parse(text) match {
      case o: JObj => o
      case _ => parseFail("Not an object")
    }
    private def reqStr(o: JObj, key: String): String = o.fields.get(key) match {
      case Some(JStr(s)) => s
      case Some(_) => parseFail(s"$key should be a string")
      case None => parseFail(s"Missing $key")
    }
    private def optStr(o: JObj, key: String): String = o.fields.get(key) match {
      case Some(JStr(s)) => s
      case _ => ""
    }
    private def reqArr(o: JObj, key: String): Vector[JVal] = o.fields.get(key) match {
      case Some(JArr(a)) => a
      case Some(_) => parseFail(s"$key should be an array")
      case None => parseFail(s"Missing $key")
    }

    reqStr(root, "file_type")
    private val formatVersion = reqStr(root, "format_version")
    val fallback: Int = root.fields.get("fallback_strategy") match {
      case Some(JStr(s)) =>
        if (formatVersion != "1.1") parseFail("fallback_strategy needs format_version 1.1")
        s match {
          case "nearest_side" => FB_NEAREST_SIDE
          case "nearest_centroid" => FB_NEAREST_CENTROID
          case "none" => FB_NONE
          case _ => parseFail("invalid fallback_strategy")
        }
      case Some(_) => parseFail("invalid fallback_strategy")
      case None => FB_NONE
    }

    var horizontal = false; var vertical = false
    for (c <- reqArr(root, "transformed_components")) c match {
      case JStr("horizontal") => horizontal = true
      case JStr("vertical") => vertical = true
      case JStr(other) => parseFail(s"transformed_components[] = $other is not handled")
      case _ => parseFail("transformed_components[] item is not a string")
    }

    private val vcols = reqArr(root, "vertices_columns").map {
      case JStr(s) => s
      case _ => parseFail("vertices_columns[] item is not a string")
    }
    private def colOf(name: String): Int = vcols.indexOf(name)
    private val srcX = colOf("source_x"); private val srcY = colOf("source_y")
    private val srcZ = colOf("source_z"); private val tgtX = colOf("target_x")
    private val tgtY = colOf("target_y"); private val tgtZ = colOf("target_z")
    private val offZ = colOf("offset_z")
    if (srcX < 0) parseFail("source_x must be specified in vertices_columns[]")
    if (srcY < 0) parseFail("source_y must be specified in vertices_columns[]")
    if (horizontal && (tgtX < 0 || tgtY < 0))
      parseFail("target_x/target_y must be specified in vertices_columns[]")
    if (vertical && offZ < 0 && (srcZ < 0 || tgtZ < 0))
      parseFail("source_z/target_z or offset_z must be specified in vertices_columns[]")

    private val tcols = reqArr(root, "triangles_columns").map {
      case JStr(s) => s
      case _ => parseFail("triangles_columns[] item is not a string")
    }
    private val iv1 = tcols.indexOf("idx_vertex1")
    private val iv2 = tcols.indexOf("idx_vertex2")
    private val iv3 = tcols.indexOf("idx_vertex3")
    if (iv1 < 0 || iv2 < 0 || iv3 < 0)
      parseFail("idx_vertex1/2/3 must be specified in triangles_columns[]")

    val colCount: Int = 2 + (if (horizontal) 2 else 0) + (if (vertical) 1 else 0)
    private val jVertices = reqArr(root, "vertices")
    val vertices: Array[Double] = {
      val out = new Array[Double](colCount * jVertices.size)
      var k = 0
      def num(row: Vector[JVal], col: Int): Double = row(col) match {
        case JNum(v, _) => v
        case _ => parseFail("vertices[][] item is not a number")
      }
      for (jv <- jVertices) jv match {
        case JArr(row) =>
          if (row.size != vcols.size) parseFail("vertices[] item has not expected number of elements")
          out(k) = num(row, srcX); k += 1
          out(k) = num(row, srcY); k += 1
          if (horizontal) { out(k) = num(row, tgtX); k += 1; out(k) = num(row, tgtY); k += 1 }
          if (vertical) {
            out(k) = if (offZ >= 0) num(row, offZ) else num(row, tgtZ) - num(row, srcZ)
            k += 1
          }
        case _ => parseFail("vertices[] item is not an array")
      }
      out
    }

    val triangles: Array[Int] = {
      val jT = reqArr(root, "triangles")
      val out = new Array[Int](3 * jT.size)
      var k = 0
      def idx(row: Vector[JVal], col: Int): Int = row(col) match {
        case JNum(v, true) =>
          val u = v.toInt
          if (u >= jVertices.size) parseFail("Invalid value for a vertex index")
          u
        case _ => parseFail("triangles[][] item is not an integer")
      }
      for (jt <- jT) jt match {
        case JArr(row) =>
          if (row.size != tcols.size) parseFail("triangles[] item has not expected number of elements")
          out(k) = idx(row, iv1); out(k + 1) = idx(row, iv2); out(k + 2) = idx(row, iv3)
          k += 3
        case _ => parseFail("triangles[] item is not an array")
      }
      out
    }

    // ---------------- evaluation ----------------

    private final val EPS = 1e-10
    @inline private def sq(x: Double) = x * x
    @inline private def sqDist(x1: Double, y1: Double, x2: Double, y2: Double) =
      sq(x1 - x2) + sq(y1 - y2)
    private def distPointSegment(x: Double, y: Double, x1: Double, y1: Double,
                                 x2: Double, y2: Double, dist12: Double): Double = {
      val t = ((x - x1) * (x2 - x1) + (y - y1) * (y2 - y1)) / dist12
      if (t <= 0) sqDist(x, y, x1, y1)
      else if (t >= 1) sqDist(x, y, x2, y2)
      else sqDist(x, y, x1 + t * (x2 - x1), y1 + t * (y2 - y1))
    }

    /** returns (triIndex, l1, l2, l3) or null */
    def findTriangle(x: Double, y: Double, forward: Boolean): Array[Double] = {
      val idxX = if (horizontal && !forward) 2 else 0
      val idxY = if (horizontal && !forward) 3 else 1
      val nTri = triangles.length / 3
      var i = 0
      while (i < nTri) {
        val i1 = triangles(3 * i); val i2 = triangles(3 * i + 1); val i3 = triangles(3 * i + 2)
        val x1 = vertices(i1 * colCount + idxX); val y1 = vertices(i1 * colCount + idxY)
        val x2 = vertices(i2 * colCount + idxX); val y2 = vertices(i2 * colCount + idxY)
        val x3 = vertices(i3 * colCount + idxX); val y3 = vertices(i3 * colCount + idxY)
        val detT = (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
        val l1 = ((y2 - y3) * (x - x3) + (x3 - x2) * (y - y3)) / detT
        val l2 = ((y3 - y1) * (x - x3) + (x1 - x3) * (y - y3)) / detT
        if (l1 >= -EPS && l1 <= 1 + EPS && l2 >= -EPS && l2 <= 1 + EPS) {
          val l3 = 1 - l1 - l2
          if (l3 >= 0) return Array(i, l1, l2, l3)
        }
        i += 1
      }
      if (fallback == FB_NONE) return null
      // nearest triangle by side or centroid distance
      var closestDist = Double.PositiveInfinity
      var closestDist2 = Double.PositiveInfinity
      var closestI = -1
      i = 0
      while (i < nTri) {
        val i1 = triangles(3 * i); val i2 = triangles(3 * i + 1); val i3 = triangles(3 * i + 2)
        val x1 = vertices(i1 * colCount + idxX); val y1 = vertices(i1 * colCount + idxY)
        val x2 = vertices(i2 * colCount + idxX); val y2 = vertices(i2 * colCount + idxY)
        val x3 = vertices(i3 * colCount + idxX); val y3 = vertices(i3 * colCount + idxY)
        val skip =
          x + closestDist < math.min(x1, math.min(x2, x3)) ||
            x - closestDist > math.max(x1, math.max(x2, x3)) ||
            y + closestDist < math.min(y1, math.min(y2, y3)) ||
            y - closestDist > math.max(y1, math.max(y2, y3))
        if (!skip) {
          val d12 = sqDist(x1, y1, x2, y2)
          val d23 = sqDist(x2, y2, x3, y3)
          val d13 = sqDist(x1, y1, x3, y3)
          if (d12 >= EPS && d23 >= EPS && d13 >= EPS) { // skip degenerate
            if (fallback == FB_NEAREST_SIDE) {
              var d2 = distPointSegment(x, y, x1, y1, x2, y2, d12)
              if (d2 < closestDist2) { closestDist2 = d2; closestDist = math.sqrt(d2); closestI = i }
              d2 = distPointSegment(x, y, x2, y2, x3, y3, d23)
              if (d2 < closestDist2) { closestDist2 = d2; closestDist = math.sqrt(d2); closestI = i }
              d2 = distPointSegment(x, y, x1, y1, x3, y3, d13)
              if (d2 < closestDist2) { closestDist2 = d2; closestDist = math.sqrt(d2); closestI = i }
            } else {
              val d2 = sqDist(x, y, (x1 + x2 + x3) / 3, (y1 + y2 + y3) / 3)
              if (d2 < closestDist2) { closestDist2 = d2; closestDist = math.sqrt(d2); closestI = i }
            }
          }
        }
        i += 1
      }
      if (closestI < 0) return null
      val i1 = triangles(3 * closestI); val i2 = triangles(3 * closestI + 1); val i3 = triangles(3 * closestI + 2)
      val x1 = vertices(i1 * colCount + idxX); val y1 = vertices(i1 * colCount + idxY)
      val x2 = vertices(i2 * colCount + idxX); val y2 = vertices(i2 * colCount + idxY)
      val x3 = vertices(i3 * colCount + idxX); val y3 = vertices(i3 * colCount + idxY)
      val detT = (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
      if (math.abs(detT) < EPS) return null
      val l1 = ((y2 - y3) * (x - x3) + (x3 - x2) * (y - y3)) / detT
      val l2 = ((y3 - y1) * (x - x3) + (x1 - x3) * (y - y3)) / detT
      Array(closestI, l1, l2, 1 - l1 - l2)
    }

    /** apply the TIN shift in place; false if no triangle found. */
    def apply(c: Coord, forward: Boolean): Boolean = {
      val r = findTriangle(c.x, c.y, forward)
      if (r == null) return false
      val tri = r(0).toInt; val l1 = r(1); val l2 = r(2); val l3 = r(3)
      val i1 = triangles(3 * tri); val i2 = triangles(3 * tri + 1); val i3 = triangles(3 * tri + 2)
      if (horizontal) {
        val tx = if (forward) 2 else 0
        val ty = if (forward) 3 else 1
        val x = vertices(i1 * colCount + tx) * l1 + vertices(i2 * colCount + tx) * l2 +
          vertices(i3 * colCount + tx) * l3
        val y = vertices(i1 * colCount + ty) * l1 + vertices(i2 * colCount + ty) * l2 +
          vertices(i3 * colCount + ty) * l3
        c.x = x; c.y = y
      }
      if (vertical) {
        val zc = if (horizontal) 4 else 2
        val dz = vertices(i1 * colCount + zc) * l1 + vertices(i2 * colCount + zc) * l2 +
          vertices(i3 * colCount + zc) * l3
        c.z = if (forward) c.z + dz else c.z - dz
      }
      true
    }
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, TinModel]()

  def tinshift(P: PJ): Unit = {
    val filename = P.params.s("file").getOrElse(
      throw ProjError(ProjErr.INVALID_OP_MISSING_ARG, "tinshift: +file= should be specified"))
    val model = {
      val cached = cache.get(filename)
      if (cached != null) cached
      else {
        val path = Seq(s"${ReferenceTree.data}/$filename", filename)
          .map(java.nio.file.Paths.get(_))
          .find(java.nio.file.Files.isReadable)
          .getOrElse(throw ProjError(ProjErr.INVALID_OP_FILE_NOT_FOUND_OR_INVALID,
            s"tinshift: non existing file $filename"))
        val raw = java.nio.file.Files.readAllBytes(path)
        // GeoPackage container: reassemble the triangulation JSON from its
        // tables (reference tinshift.cpp:103 dispatches on the extension)
        val text =
          if (filename.endsWith(".gpkg"))
            try graft.proj.grids.TinshiftGpkg.toTriangulationJson(raw)
            catch {
              case e: Exception =>
                throw ProjError(ProjErr.INVALID_OP_FILE_NOT_FOUND_OR_INVALID,
                  s"tinshift: invalid GeoPackage: ${e.getMessage}")
            }
          else new String(raw, "UTF-8")
        val m =
          try new TinModel(text)
          catch {
            case e: JsonException =>
              throw ProjError(ProjErr.INVALID_OP_FILE_NOT_FOUND_OR_INVALID,
                s"tinshift: invalid model: ${e.getMessage}")
            case _: IndexOutOfBoundsException =>
              throw ProjError(ProjErr.INVALID_OP_FILE_NOT_FOUND_OR_INVALID,
                "tinshift: invalid model")
          }
        cache.putIfAbsent(filename, m)
        cache.get(filename)
      }
    }
    P.left = IOUnits.WHATEVER; P.right = IOUnits.WHATEVER
    P.kernel = new OpKernel {
      val caps = FWD4 | INV4
      override def fwd4(c: Coord): Unit =
        if (!model.apply(c, forward = true)) {
          c.x = Double.PositiveInfinity; c.y = Double.PositiveInfinity
          c.z = Double.PositiveInfinity; c.t = Double.PositiveInfinity
        }
      override def inv4(c: Coord): Unit =
        if (!model.apply(c, forward = false)) {
          c.x = Double.PositiveInfinity; c.y = Double.PositiveInfinity
          c.z = Double.PositiveInfinity; c.t = Double.PositiveInfinity
        }
    }
  }
}
