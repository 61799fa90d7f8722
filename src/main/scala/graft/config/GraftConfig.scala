package graft.config

import graft.corpus.ChunkerConfig
import graft.index.BuildConfig
import graft.query.PipelineConfig

/** Config resolution with the reference's precedence chain
  * (config.py:273-289): defaults -> YAML file -> environment -> CLI.
  *
  * The tree is a nested Map[String, Any] with scalar leaves
  * (String/Long/Double/Boolean/null), mirroring the engine-relevant subset
  * of the reference default tree (config.py:12-151; the llm/http sections
  * are out of engine scope, SURVEY §2.12). The YAML parser handles the
  * subset the reference configs use: nested maps by indentation, scalar
  * leaves, comments, quoted strings.
  */
object GraftConfig {

  type Tree = Map[String, Any]

  def defaults: Tree = Map(
    "paths" -> Map(
      "pdf_dir" -> "pages",
      "cache_dir" -> ".graft_index"),
    "indexing" -> Map(
      "page_split" -> "sliding",
      "window_chars" -> 600L,
      "overlap_chars" -> 80L,
      "text_quality_check" -> true,
      "min_readable_ratio" -> 0.5),
    "bm25" -> Map(
      "k1" -> 1.4,
      "b" -> 0.75,
      "pool_size" -> 200L,
      // engine-only knob (no reference analog): serve head-term queries
      // from WAND top-k instead of the O(corpus) dense pass — bounded rank
      // deviation, see PipelineConfig.headTermWand
      "head_term_wand" -> false),
    "prf" -> Map(
      "enabled" -> false,
      "fb_docs" -> 6L,
      "fb_terms" -> 10L,
      "alpha" -> 0.6),
    "bonuses" -> Map(
      "proximity" -> Map("enabled" -> true, "window" -> 24L, "weight" -> 0.2),
      "ngram" -> Map("enabled" -> true, "weight" -> 0.1)),
    "fusion" -> Map( // nested exactly as the reference tree (config.py:116-125)
      "rrf" -> Map("enabled" -> true, "C" -> 75L, "cap" -> 200L),
      "robust_query" -> Map("enabled" -> true)),
    "rerank" -> Map(
      "final_top_k" -> 8L,
      "heuristic" -> Map(
        "enabled" -> true, "topn" -> 150L,
        "alpha" -> 0.6, "beta" -> 0.3, "gamma" -> 0.1),
      "semantic" -> Map("enabled" -> false, "topn" -> 80L)),
    "diversity" -> Map(
      "enabled" -> true,
      "per_doc_penalty" -> 0.3,
      "max_per_doc" -> 2L,
      "mmr" -> Map("enabled" -> true, "lambda" -> 0.7)),
    "output" -> Map(
      "max_snippet_chars" -> 900L,
      "include_scores" -> true),
    "citations" -> Map(
      "include_pandoc_cite" -> true,
      "pandoc_as_primary" -> true),
    "performance" -> Map("deterministic" -> true),
    "spark" -> Map(
      "n_term_buckets" -> 32L,
      "n_doc_shards" -> 0L, // 0 = auto-scale with corpus size
      "shuffle_partitions" -> 32L))

  /** Deep merge (reference merge_configs, config.py:185-195). */
  def merge(base: Tree, over: Tree): Tree =
    over.foldLeft(base) { case (acc, (k, v)) =>
      (acc.get(k), v) match {
        case (Some(b: Map[_, _]), o: Map[_, _]) =>
          acc + (k -> merge(b.asInstanceOf[Tree], o.asInstanceOf[Tree]))
        case _ => acc + (k -> v)
      }
    }

  // ---------------------------------------------------------------- YAML
  private def parseScalar(raw: String): Any = {
    val s = raw.trim
    if (s.isEmpty || s == "null" || s == "~") null
    else if (s == "true") true
    else if (s == "false") false
    else if ((s.startsWith("\"") && s.endsWith("\"") && s.length >= 2) ||
             (s.startsWith("'") && s.endsWith("'") && s.length >= 2))
      s.substring(1, s.length - 1)
    else s.toLongOption.getOrElse(
      s.toDoubleOption.getOrElse(s): Any)
  }

  /** Minimal YAML-subset parser: indentation-nested maps, scalar leaves,
    * inline `[a, b]` lists (including multi-line continuations, which the
    * reference's own config.yaml uses for bonuses.patterns) and `- item`
    * block lists. Comment stripping is quote-aware ('#' inside quotes is
    * data), and lines that fit none of these shapes are skipped rather
    * than fatal — loadFull auto-loads ./config.yaml, so an exotic but
    * valid YAML feature must never crash every CLI invocation.
    */
  def parseYaml(text: String): Tree = {
    // '#' starts a comment only outside quotes
    def stripComment(l: String): String = {
      val sb = new StringBuilder
      var inS = false; var inD = false; var i = 0
      var done = false
      while (i < l.length && !done) {
        val c = l.charAt(i)
        if (c == '\'' && !inD) inS = !inS
        else if (c == '"' && !inS) inD = !inD
        if (c == '#' && !inS && !inD) done = true else sb.append(c)
        i += 1
      }
      sb.toString
    }
    // net bracket depth outside quotes (for inline-list continuations)
    def depthDelta(s: String): Int = {
      var d = 0; var inS = false; var inD = false
      s.foreach { c =>
        if (c == '\'' && !inD) inS = !inS
        else if (c == '"' && !inS) inD = !inD
        else if (!inS && !inD) { if (c == '[') d += 1 else if (c == ']') d -= 1 }
      }
      d
    }
    // logical lines: splice a multi-line inline list onto its opening line
    val raw = text.linesIterator.map(stripComment).filter(_.trim.nonEmpty).toList
    val logical = scala.collection.mutable.ListBuffer.empty[String]
    var li = 0
    while (li < raw.length) {
      var cur = raw(li)
      var depth = depthDelta(cur)
      while (depth > 0 && li + 1 < raw.length) {
        li += 1; cur = cur + " " + raw(li).trim; depth += depthDelta(raw(li))
      }
      logical += cur
      li += 1
    }

    def parseList(s: String): Seq[Any] = {
      val t = s.trim
      val inner = t.substring(1, t.length - 1)
      val items = scala.collection.mutable.ListBuffer.empty[String]
      val sb = new StringBuilder; var inS = false; var inD = false; var d = 0
      inner.foreach { c =>
        if (c == '\'' && !inD) { inS = !inS; sb.append(c) }
        else if (c == '"' && !inS) { inD = !inD; sb.append(c) }
        else if (c == ',' && !inS && !inD && d == 0) { items += sb.toString; sb.clear() }
        else {
          if (!inS && !inD) { if (c == '[') d += 1 else if (c == ']') d -= 1 }
          sb.append(c)
        }
      }
      if (sb.toString.trim.nonEmpty) items += sb.toString
      // nested inline lists recurse — `x: [1, [2, 3]]` parses [2, 3] as a
      // list, not the literal string "[2, 3]"
      items.toList.map { i =>
        val ti = i.trim
        if (ti.startsWith("[") && ti.endsWith("]")) parseList(ti) else parseScalar(ti)
      }
    }

    sealed trait L { def indent: Int }
    case class KV(indent: Int, key: String, value: String) extends L
    case class Item(indent: Int, value: String) extends L
    val lines: List[L] = logical.toList.flatMap { l =>
      val indent = l.takeWhile(_ == ' ').length
      val body = l.trim
      if (body == "-" || body.startsWith("- ")) Some(Item(indent, body.drop(1).trim))
      else {
        val ci = body.indexOf(':')
        if (ci > 0) Some(KV(indent, body.take(ci).trim, body.drop(ci + 1)))
        else None // unparseable shape: skip, never crash
      }
    }

    def leaf(value: String): Any = {
      val v = value.trim
      if (v.startsWith("[") && v.endsWith("]")) parseList(v) else parseScalar(v)
    }

    def build(ls: List[L], indent: Int): (Tree, List[L]) = {
      var rest = ls
      var out: Tree = Map.empty
      while (rest.nonEmpty && rest.head.indent >= indent) {
        rest.head match {
          case h: KV if h.indent > indent =>
            // over-indented without a parent key: tolerate at this level
            rest = KV(indent, h.key, h.value) :: rest.tail
          case h: KV if h.value.trim.isEmpty =>
            rest.tail.headOption match {
              case Some(n: Item) if n.indent >= indent =>
                // block list: consecutive `- item` lines at the same indent
                val (items, r) = rest.tail.span {
                  case it: Item => it.indent == n.indent
                  case _ => false
                }
                out += (h.key -> items.collect { case it: Item => parseScalar(it.value) })
                rest = r
              case Some(n) if n.indent > indent =>
                val (sub, r) = build(rest.tail, n.indent)
                out += (h.key -> sub); rest = r
              case _ => out += (h.key -> null); rest = rest.tail
            }
          case h: KV =>
            out += (h.key -> leaf(h.value)); rest = rest.tail
          case _: Item =>
            rest = rest.tail // stray list item at map level: skip
        }
      }
      (out, rest)
    }
    build(lines, lines.collectFirst { case kv: KV => kv.indent }.getOrElse(0))._1
  }

  def loadFile(path: String): Tree = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else parseYaml(java.nio.file.Files.readString(p))
  }

  // ----------------------------------------------------- env + CLI layers
  /** Env mappings (reference apply_env_vars, config.py:199-232), converted
    * to the type of the default at that path.
    */
  val EnvMappings: Map[String, Seq[String]] = Map(
    "GRAFT_PATHS_PDF_DIR" -> Seq("paths", "pdf_dir"),
    "GRAFT_PATHS_CACHE_DIR" -> Seq("paths", "cache_dir"),
    "GRAFT_BM25_K1" -> Seq("bm25", "k1"),
    "GRAFT_BM25_B" -> Seq("bm25", "b"),
    "GRAFT_PRF_ENABLED" -> Seq("prf", "enabled"),
    "GRAFT_PRF_FB_DOCS" -> Seq("prf", "fb_docs"),
    "GRAFT_PRF_FB_TERMS" -> Seq("prf", "fb_terms"),
    "GRAFT_RERANK_FINAL_TOP_K" -> Seq("rerank", "final_top_k"))

  def applyEnv(cfg: Tree, env: Map[String, String]): Tree =
    EnvMappings.foldLeft(cfg) { case (acc, (envVar, path)) =>
      env.get(envVar) match {
        case None => acc
        case Some(raw) => setPath(acc, path, convertLike(getPath(defaults, path), raw))
      }
    }

  /** CLI mappings (reference apply_cli_overrides, config.py:238-270);
    * `no-prox` / `no-diversity` invert.
    */
  val CliMappings: Map[String, Seq[String]] = Map(
    "k" -> Seq("rerank", "final_top_k"),
    "rm3" -> Seq("prf", "enabled"),
    "fb-docs" -> Seq("prf", "fb_docs"),
    "fb-terms" -> Seq("prf", "fb_terms"),
    "alpha" -> Seq("prf", "alpha"),
    "no-prox" -> Seq("bonuses", "proximity", "enabled"),
    "prox-window" -> Seq("bonuses", "proximity", "window"),
    "prox-lambda" -> Seq("bonuses", "proximity", "weight"),
    "ngram-lambda" -> Seq("bonuses", "ngram", "weight"),
    "no-diversity" -> Seq("diversity", "enabled"),
    "div-lambda" -> Seq("diversity", "per_doc_penalty"),
    "max-per-doc" -> Seq("diversity", "max_per_doc"),
    "semantic-topn" -> Seq("rerank", "semantic", "topn"),
    "head-term-wand" -> Seq("bm25", "head_term_wand"),
    "doc-shards" -> Seq("spark", "n_doc_shards"))

  private val InvertedFlags = Set("no-prox", "no-diversity")
  // "pretty" maps to no config path; listing it here only makes the parser
  // treat it as a bare flag (it must never consume the next positional)
  private val BooleanFlags = Set("rm3", "no-prox", "no-diversity", "pretty",
    "head-term-wand")

  def applyCli(cfg: Tree, cli: Map[String, String]): Tree =
    CliMappings.foldLeft(cfg) { case (acc, (arg, path)) =>
      cli.get(arg) match {
        case None => acc
        case Some(raw) =>
          val v: Any =
            if (InvertedFlags.contains(arg)) !(raw.isEmpty || raw == "true")
            else if (BooleanFlags.contains(arg)) raw.isEmpty || raw == "true"
            else convertLike(getPath(defaults, path), raw)
          setPath(acc, path, v)
      }
    }

  /** Parse `--flag value` / bare `--flag` pairs; returns (overrides, rest). */
  def parseCliArgs(args: Seq[String]): (Map[String, String], Seq[String]) = {
    val overrides = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rest = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    var configFile: Option[String] = None
    while (i < args.length) {
      val a = args(i)
      if (a == "--config" && i + 1 < args.length) {
        configFile = Some(args(i + 1)); i += 2
      } else if (a.startsWith("--")) {
        val name = a.drop(2)
        if (BooleanFlags.contains(name) || i + 1 >= args.length ||
            args(i + 1).startsWith("--")) {
          overrides(name) = ""; i += 1
        } else { overrides(name) = args(i + 1); i += 2 }
      } else { rest += a; i += 1 }
    }
    configFile.foreach(f => overrides("config") = f)
    (overrides.toMap, rest.toSeq)
  }

  /** Full precedence chain (reference load_full_config). */
  def loadFull(configPath: Option[String],
               env: Map[String, String] = sys.env,
               cli: Map[String, String] = Map.empty): Tree = {
    val fileCfg = configPath.map(loadFile).getOrElse(
      loadFile("config.yaml"))
    applyCli(applyEnv(merge(defaults, fileCfg), env), cli)
  }

  // ------------------------------------------------------------- helpers
  def getPath(cfg: Tree, path: Seq[String]): Any =
    path.foldLeft(cfg: Any) {
      case (m: Map[_, _], k) => m.asInstanceOf[Tree].getOrElse(k, null)
      case _ => null
    }

  def setPath(cfg: Tree, path: Seq[String], v: Any): Tree =
    if (path.length == 1) cfg + (path.head -> v)
    else {
      val child = cfg.get(path.head) match {
        case Some(m: Map[_, _]) => m.asInstanceOf[Tree]
        case _ => Map.empty[String, Any]
      }
      cfg + (path.head -> setPath(child, path.tail, v))
    }

  private def convertLike(like: Any, raw: String): Any = like match {
    case _: Boolean => Seq("true", "1", "yes", "on").contains(raw.toLowerCase)
    case _: Long => raw.toLong
    case _: Int => raw.toLong
    case _: Double => raw.toDouble
    case _ => raw
  }

  def long(cfg: Tree, path: String*): Long = getPath(cfg, path) match {
    case l: Long => l; case i: Int => i.toLong; case d: Double => d.toLong
    case s: String => s.toLong; case _ => 0L
  }
  def dbl(cfg: Tree, path: String*): Double = getPath(cfg, path) match {
    case d: Double => d; case l: Long => l.toDouble; case i: Int => i.toDouble
    case s: String => s.toDouble; case _ => 0.0
  }
  def bool(cfg: Tree, path: String*): Boolean = getPath(cfg, path) match {
    case b: Boolean => b; case _ => false
  }
  def str(cfg: Tree, path: String*): String = getPath(cfg, path) match {
    case s: String => s; case null => null; case x => x.toString
  }

  // ----------------------------------------------- engine config adapters
  def toPipelineConfig(cfg: Tree): PipelineConfig = PipelineConfig(
    k = long(cfg, "rerank", "final_top_k").toInt,
    poolSize = long(cfg, "bm25", "pool_size").toInt,
    k1 = dbl(cfg, "bm25", "k1"),
    b = dbl(cfg, "bm25", "b"),
    headTermWand = bool(cfg, "bm25", "head_term_wand"),
    proxWindow = if (bool(cfg, "bonuses", "proximity", "enabled"))
      long(cfg, "bonuses", "proximity", "window").toInt else 0,
    proxLambda = if (bool(cfg, "bonuses", "proximity", "enabled"))
      dbl(cfg, "bonuses", "proximity", "weight") else 0.0,
    ngramLambda = if (bool(cfg, "bonuses", "ngram", "enabled"))
      dbl(cfg, "bonuses", "ngram", "weight") else 0.0,
    prfEnabled = bool(cfg, "prf", "enabled"),
    fbDocs = long(cfg, "prf", "fb_docs").toInt,
    fbTerms = long(cfg, "prf", "fb_terms").toInt,
    semanticEnabled = bool(cfg, "rerank", "semantic", "enabled"),
    semanticTopn = long(cfg, "rerank", "semantic", "topn").toInt,
    heuristicEnabled = bool(cfg, "rerank", "heuristic", "enabled"),
    heuristicTopn = long(cfg, "rerank", "heuristic", "topn").toInt,
    heuristicAlpha = dbl(cfg, "rerank", "heuristic", "alpha"),
    heuristicBeta = dbl(cfg, "rerank", "heuristic", "beta"),
    heuristicGamma = dbl(cfg, "rerank", "heuristic", "gamma"),
    robustEnabled = bool(cfg, "fusion", "robust_query", "enabled"),
    rrfEnabled = bool(cfg, "fusion", "rrf", "enabled"),
    rrfC = long(cfg, "fusion", "rrf", "C").toInt,
    rrfCap = long(cfg, "fusion", "rrf", "cap").toInt,
    diversityEnabled = bool(cfg, "diversity", "enabled"),
    perDocPenalty = dbl(cfg, "diversity", "per_doc_penalty"),
    maxPerDoc = long(cfg, "diversity", "max_per_doc").toInt,
    mmrEnabled = bool(cfg, "diversity", "mmr", "enabled"),
    mmrLambda = dbl(cfg, "diversity", "mmr", "lambda"),
    maxSnippetChars = long(cfg, "output", "max_snippet_chars").toInt,
    includeScores = bool(cfg, "output", "include_scores"),
    includePandoc = bool(cfg, "citations", "include_pandoc_cite"),
    pandocPrimary = bool(cfg, "citations", "pandoc_as_primary"),
    deterministicSort = bool(cfg, "performance", "deterministic"))

  def toChunkerConfig(cfg: Tree): ChunkerConfig = ChunkerConfig(
    pageSplit = str(cfg, "indexing", "page_split"),
    windowChars = long(cfg, "indexing", "window_chars").toInt,
    overlapChars = long(cfg, "indexing", "overlap_chars").toInt,
    qualityCheck = bool(cfg, "indexing", "text_quality_check"),
    minReadableRatio = dbl(cfg, "indexing", "min_readable_ratio"))

  def toBuildConfig(cfg: Tree): BuildConfig = BuildConfig(
    k1 = dbl(cfg, "bm25", "k1"),
    b = dbl(cfg, "bm25", "b"),
    nTermBuckets = long(cfg, "spark", "n_term_buckets").toInt,
    nDocShards = long(cfg, "spark", "n_doc_shards").toInt,
    shufflePartitions = long(cfg, "spark", "shuffle_partitions").toInt)
}
