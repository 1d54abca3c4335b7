package graft.cli

import graft.proj.ops.TinshiftOps.{JArr, JBool, JNum, JObj, JStr, JVal, Json}

/** Replays the reference CLI test corpus (test/cli yaml files, converted to
  * JSON fixtures by devtools/cli_yaml_to_json.py) with the comparison
  * semantics of the reference runner (test/cli/run_cli_test.py): expected
  * text is newline-terminated and split keeping ends, `out` compares the
  * 2>&1 interleaving, `sub`/`grep`/`grep-v` post-process both streams, and
  * the exit code always participates.
  */
object CliHarness {

  final case class CliTest(index: Int, comment: String, args: Seq[String],
                           input: String, out: Option[String],
                           stdout: Option[String], stderr: Option[String],
                           exitcode: Int, sub: Option[(String, String)],
                           grep: Seq[String], grepV: Seq[String],
                           sort: Boolean,
                           head: Option[Int], tail: Option[Int],
                           files: Seq[(String, String)],
                           env: Map[String, String])

  final case class Fixture(exe: String, env: Map[String, String], tests: Seq[CliTest])

  sealed trait Outcome
  case object Pass extends Outcome
  final case class Fail(diff: String) extends Outcome
  final case class Skip(reason: String) extends Outcome

  def load(name: String): Fixture = {
    val in = getClass.getResourceAsStream(s"/graft/cli/$name.json")
    require(in != null, s"missing fixture $name")
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val root = Json.parse(text).asInstanceOf[JObj]
    def str(o: JObj, k: String): Option[String] = o.fields.get(k).collect { case JStr(s) => s }
    def num(o: JObj, k: String): Option[Int] = o.fields.get(k).collect { case JNum(v, _) => v.toInt }
    def strList(o: JObj, k: String): Seq[String] = o.fields.get(k) match {
      case Some(JArr(vs)) => vs.collect { case JStr(s) => s }
      case Some(JStr(s)) => Seq(s)
      case _ => Seq.empty
    }
    val tests = root.fields("tests").asInstanceOf[JArr].items.map { tv =>
      val t = tv.asInstanceOf[JObj]
      val args = t.fields.get("args") match {
        case Some(JArr(vs)) => vs.map { case JStr(s) => s; case other => other.toString }
        case _ => Seq.empty[String]
      }
      val sub = t.fields.get("sub").collect {
        case JArr(Seq(JStr(p), JStr(r))) => (p, r)
      }
      val files = t.fields.get("file") match {
        case Some(JArr(vs)) => vs.map { fv =>
          val f = fv.asInstanceOf[JObj]
          (str(f, "name").getOrElse(""), str(f, "content").getOrElse(""))
        }
        case _ => Seq.empty
      }
      val tenv = t.fields.get("env") match {
        case Some(JObj(fs)) => fs.collect { case (k, JStr(s2)) => k -> s2 }
        case _ => Map.empty[String, String]
      }
      CliTest(
        index = num(t, "index").getOrElse(-1),
        comment = str(t, "comment").getOrElse(""),
        args = args,
        input = str(t, "in").orElse(str(t, "input")).getOrElse(""),
        out = str(t, "out"),
        stdout = str(t, "stdout"),
        stderr = str(t, "stderr"),
        exitcode = num(t, "exitcode").getOrElse(0),
        sub = sub,
        grep = strList(t, "grep"),
        grepV = strList(t, "grep-v"),
        sort = t.fields.get("sort").contains(JBool(true)),
        head = num(t, "head"), tail = num(t, "tail"),
        files = files,
        env = tenv)
    }
    val env = root.fields.get("env") match {
      case Some(JObj(fs)) => fs.collect { case (k, JStr(v)) => k -> v }
      case _ => Map.empty[String, String]
    }
    Fixture(str(root, "exe").getOrElse(""), env, tests)
  }

  /** python str.splitlines(keepends=True) over \n-separated text. */
  def keepEnds(s: String): List[String] = {
    if (s.isEmpty) return Nil
    val out = List.newBuilder[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\n') { out += s.substring(start, i + 1); start = i + 1 }
      i += 1
    }
    if (start < s.length) out += s.substring(start)
    out.result()
  }

  /** runner's text2list: terminate then split keeping ends. */
  def expectedList(s: String): List[String] =
    if (s.isEmpty) Nil else keepEnds(if (s.endsWith("\n")) s else s + "\n")

  def postProcess(lines: List[String], t: CliTest): List[String] = {
    var ls = lines
    t.grep.foreach { pat =>
      val re = java.util.regex.Pattern.compile(pat)
      ls = ls.filter(l => re.matcher(l).find())
    }
    t.grepV.foreach { pat =>
      val re = java.util.regex.Pattern.compile(pat)
      ls = ls.filterNot(l => re.matcher(l).find())
    }
    t.sub.foreach { case (pat, repl) =>
      val re = java.util.regex.Pattern.compile(pat)
      ls = ls.map(l => re.matcher(l).replaceAll(repl))
    }
    if (t.sort) ls = ls.sorted
    t.head.foreach(n => ls = ls.take(n))
    t.tail.foreach(n => ls = ls.takeRight(n))
    ls
  }

  /** Run one test through `app`, mirroring run_cli_test comparisons. */
  def evaluate(t: CliTest,
               app: (Seq[String], String, Map[String, String], Map[String, String]) => CliResult): Outcome = {
    val stdin = if (t.input.isEmpty || t.input.endsWith("\n")) t.input else t.input + "\n"
    // input files referenced by name but not created by the test live in
    // the reference's test/cli directory (the runner's cwd)
    val onDisk = t.args.filter(a => !a.startsWith("-") && !a.startsWith("+") &&
        a.contains(".txt")).flatMap { name =>
      val p = java.nio.file.Paths.get(graft.proj.ReferenceTree.test, "cli", name)
      if (java.nio.file.Files.isReadable(p))
        Some(name -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      else None
    }
    val res =
      try app(t.args, stdin, onDisk.toMap ++ t.files.toMap, t.env)
      catch {
        case e: Throwable =>
          return Fail(s"exception: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val diffs = List.newBuilder[String]
    def cmp(label: String, expected: Option[String], actual: String): Unit =
      expected.foreach { exp =>
        val want = postProcess(expectedList(exp), t)
        val got = postProcess(keepEnds(actual), t)
        if (want != got)
          diffs += s"$label differs:\n  expected: ${want.mkString("|")}\n  actual:   ${got.mkString("|")}"
      }
    cmp("out", t.out, res.combined)
    cmp("stdout", t.stdout, res.stdout)
    cmp("stderr", t.stderr, res.stderr)
    if (res.exit != t.exitcode)
      diffs += s"exitcode: expected ${t.exitcode}, got ${res.exit} (stderr: ${res.stderr.take(200)})"
    val d = diffs.result()
    if (d.isEmpty) Pass else Fail(d.mkString("\n"))
  }
}
