package graft.pipeline

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import graft.util.Json
import graft.util.Json._

/** Pipeline-configuration transforms: the reference's rule-driven template
  * rewriting that turns a user's compact plugin marker (`ocsf:`, `rds:`,
  * `documentdb:`) into a full multi-stage pipeline before compilation.
  *
  * Reference semantics reproduced here:
  *  - `RuleEvaluator` (`data-prepper-pipeline-parser/.../rule/RuleEvaluator.java:57-150`):
  *    each pipeline is wrapped as a single-entry `{name: model}` JSON and
  *    every `apply_when` JSONPath of a rule must match (non-empty result);
  *    rules are sorted most-conditions-first so a specific rule (e.g. the
  *    reference's rds-joins, 2 conditions) beats its generic sibling
  *    (rds, 1 condition); the first pipeline with a matching rule wins.
  *  - `DynamicConfigTransformer` (`.../transformer/DynamicConfigTransformer.java:120-669`):
  *    `<<pipeline-name>>` replaced textually; every `<<...>>` value node in
  *    the template resolves either to a `$.`-rooted JSONPath into the
  *    wrapped pipeline JSON (node substitution; a missing path becomes
  *    null; a single-element result of a `[?(@.` filter path is unwrapped),
  *    to a `FUNCTION_NAME:f,PARAMETER:p` call against a registered
  *    transformation function, or to the raw text; recursive (`$..`) paths
  *    inside templates are rejected; `<<overlay path>>` keys shallow-merge
  *    their value into the target (with `sink[*].plugin`-style wildcards);
  *    untransformed sibling pipelines are carried over, and a sub-pipeline
  *    fed by a `pipeline` sink of the transformed pipeline has its source
  *    repointed at `<name>-s3` (the reference's fixed suffix quirk,
  *    `DynamicConfigTransformer.java:268-280`).
  *  - Transformation functions (`aws-plugin/.../PipelineTransformFunctions.java`):
  *    `calculateDepth`, `calculateDepthForRdsSource`,
  *    `getSourceCoordinationIdentifierEnvVariable`,
  *    `getIncludePrefixForRdsSource`, `getAccountIdFromRole` — implemented
  *    natively with an injectable source-coordination identifier (the
  *    reference reads an environment variable; batch callers pass it in).
  *
  * Spark-first note: the transform is pure driver-side configuration
  * rewriting — no data moves. Its output feeds [[PipelineYaml.compileDefs]]
  * unchanged, so a transformed pipeline enjoys the same cross-pipeline
  * Catalyst optimization as a hand-written one. The JSONPath evaluator is
  * an own kernel over [[graft.util.Json]]'s ordered AST covering exactly
  * the path language the reference's rules and templates use.
  */
object Transforms {

  final class TransformerException(msg: String) extends RuntimeException(msg)

  // ---------------------------------------------------------- YAML → JVal

  private val yamlMapper = new ObjectMapper(new YAMLFactory())

  /** Parse YAML text to the ordered JSON AST (objects keep key order). */
  def yamlToJson(yamlText: String): JVal =
    fromJava(yamlMapper.readValue(yamlText, classOf[Object]))

  private def fromJava(v: Any): JVal = v match {
    case null => JNull
    case m: java.util.Map[_, _] =>
      JObj(m.asScala.toVector.map { case (k, x) => k.toString -> fromJava(x) })
    case l: java.util.List[_] => JArr(l.asScala.toVector.map(fromJava))
    case s: String => JStr(s)
    case b: java.lang.Boolean => JBool(b)
    case n: java.lang.Integer => JNum(n.toString)
    case n: java.lang.Long => JNum(n.toString)
    case n: java.math.BigInteger => JNum(n.toString)
    case n: java.lang.Double =>
      if (n.isNaN || n.isInfinite) JStr(n.toString) else JNum(n.toString)
    case n: java.math.BigDecimal => JNum(n.toPlainString)
    case other => JStr(other.toString)
  }

  /** JVal → the plain Scala shape [[PipelineYaml]] consumes
    * (ordered Map / Vector / String / Long / Double / Boolean / null). */
  def toPlain(v: JVal): Any = v match {
    case JNull => null
    case JStr(s) => s
    case JBool(b) => java.lang.Boolean.valueOf(b)
    case JNum(raw) =>
      if (raw.exists(c => c == '.' || c == 'e' || c == 'E'))
        java.lang.Double.valueOf(raw.toDouble)
      else {
        val l = raw.toLong
        if (l >= Int.MinValue && l <= Int.MaxValue) java.lang.Integer.valueOf(l.toInt)
        else java.lang.Long.valueOf(l)
      }
    case JArr(items) => items.map(toPlain)
    case JObj(fields) =>
      // ListMap preserves insertion order for the small config maps here
      scala.collection.immutable.ListMap(fields.map { case (k, x) => k -> toPlain(x) }: _*)
  }

  // ---------------------------------------------------- JSONPath (subset)

  sealed trait Seg
  private final case class Child(key: String) extends Seg
  private final case class Recursive(key: String) extends Seg
  private final case class Index(n: Int) extends Seg
  private final case class Filter(pred: Pred) extends Seg

  sealed trait Pred
  private final case class Exists(path: Vector[String]) extends Pred
  private final case class EqLit(path: Vector[String], lit: String) extends Pred

  /** Parse the rule/template path subset: `$`, `.key`, `..key`, `[n]`,
    * `[?(@.a.b)]`, `[?(@.a.b == 'lit')]`. Throws on anything else. */
  def parsePath(s: String): Vector[Seg] = {
    val t = s.trim
    if (!t.startsWith("$")) throw new TransformerException(s"path must start with $$: $s")
    var i = 1
    val segs = Vector.newBuilder[Seg]
    def ident(from: Int): (String, Int) = {
      var j = from
      while (j < t.length && t.charAt(j) != '.' && t.charAt(j) != '[') j += 1
      val k = t.substring(from, j)
      if (k.isEmpty) throw new TransformerException(s"empty key in path: $s")
      (k, j)
    }
    while (i < t.length) {
      if (t.startsWith("..", i)) {
        val (k, j) = ident(i + 2); segs += Recursive(k); i = j
      } else if (t.charAt(i) == '.') {
        val (k, j) = ident(i + 1); segs += Child(k); i = j
      } else if (t.charAt(i) == '[') {
        val close = t.indexOf(']', i)
        if (close < 0) throw new TransformerException(s"unclosed [ in path: $s")
        val inner = t.substring(i + 1, close).trim
        if (inner.startsWith("?(") ) {
          val end = t.indexOf(")]", i)
          if (end < 0) throw new TransformerException(s"unclosed filter in path: $s")
          val body0 = t.substring(i + 1, end)
          val body = body0.stripPrefix("?(").trim
          if (!body.startsWith("@.")) throw new TransformerException(s"filter must test @.: $s")
          val rest = body.stripPrefix("@.")
          val eq = rest.indexOf("==")
          if (eq >= 0) {
            val p = rest.substring(0, eq).trim.split('.').toVector
            val lit0 = rest.substring(eq + 2).trim
            val lit =
              if ((lit0.startsWith("'") && lit0.endsWith("'")) ||
                  (lit0.startsWith("\"") && lit0.endsWith("\"")))
                lit0.substring(1, lit0.length - 1)
              else lit0
            segs += Filter(EqLit(p, lit))
          } else segs += Filter(Exists(rest.trim.split('.').toVector))
          i = end + 2
        } else {
          segs += Index(try inner.toInt catch {
            case _: NumberFormatException =>
              throw new TransformerException(s"non-numeric index [$inner] in path: $s")
          })
          i = close + 1
        }
      } else throw new TransformerException(s"unexpected char '${t.charAt(i)}' in path: $s")
    }
    segs.result()
  }

  private def walk(v: JVal, path: Vector[String]): Option[JVal] =
    path.foldLeft(Option(v)) {
      case (Some(o: JObj), k) => o.get(k)
      case _ => None
    }

  private def holds(el: JVal, p: Pred): Boolean = p match {
    case Exists(path) => walk(el, path).exists(_ != JNull)
    case EqLit(path, lit) => walk(el, path).exists {
      case JStr(s) => s == lit
      case JNum(r) => r == lit
      case JBool(b) => b.toString == lit
      case _ => false
    }
  }

  /** Every value of key `k` anywhere under `v`, document order, self-first. */
  private def descendants(v: JVal, k: String): Vector[JVal] = v match {
    case o: JObj =>
      o.fields.flatMap { case (key, x) =>
        (if (key == k) Vector(x) else Vector.empty) ++ descendants(x, k)
      }
    case a: JArr => a.items.flatMap(descendants(_, k))
    case _ => Vector.empty
  }

  /** Evaluate a parsed path; returns every match (empty = not found). */
  def evalPath(root: JVal, segs: Vector[Seg]): Vector[JVal] =
    segs.foldLeft(Vector(root)) { (ctx, seg) =>
      seg match {
        case Child(k) => ctx.flatMap { case o: JObj => o.get(k); case _ => None }
        case Recursive(k) => ctx.flatMap(descendants(_, k))
        case Index(n) => ctx.flatMap {
          case a: JArr if n >= 0 && n < a.items.length => Some(a.items(n))
          case _ => None
        }
        case Filter(p) => ctx.flatMap {
          case a: JArr => a.items.filter(holds(_, p))
          case o: JObj => if (holds(o, p)) Vector(o) else Vector.empty
          case _ => Vector.empty
        }
      }
    }

  def evalPath(root: JVal, path: String): Vector[JVal] = evalPath(root, parsePath(path))

  // ----------------------------------------------------------- rules

  final case class TransformRule(
      pluginName: String,
      applyWhen: Seq[String],
      functionProviders: Seq[String])

  def parseRule(ruleYaml: String): TransformRule = {
    val o = yamlToJson(ruleYaml) match {
      case x: JObj => x
      case _ => throw new TransformerException("rule yaml must be a mapping")
    }
    def strs(k: String): Seq[String] = o.get(k) match {
      case Some(JArr(xs)) => xs.collect { case JStr(s) => s }
      case _ => Seq.empty
    }
    TransformRule(
      o.get("plugin_name") match {
        case Some(JStr(s)) => s
        case _ => throw new TransformerException("rule yaml: missing plugin_name")
      },
      strs("apply_when"),
      strs("function_providers"))
  }

  /** One rule + its template, as the reference ships them side by side in
    * each plugin's `transforms/rules` + `transforms/templates` resources. */
  final case class RuleTemplate(ruleYaml: String, templateYaml: String) {
    lazy val rule: TransformRule = parseRule(ruleYaml)
  }

  final case class RuleMatch(bundle: RuleTemplate, pipelineName: String)

  /** First pipeline (document order) whose JSON satisfies every
    * `apply_when` path of some rule; rules tried most-specific-first. */
  def firstMatch(pipelines: JObj, bundles: Seq[RuleTemplate]): Option[RuleMatch] = {
    val sorted = bundles.sortBy(-_.rule.applyWhen.size)
    pipelines.fields.iterator.flatMap { case (name, model) =>
      val wrapped = JObj(Vector(name -> model))
      sorted.find { b =>
        b.rule.applyWhen.nonEmpty &&
          b.rule.applyWhen.forall(p =>
            try evalPath(wrapped, p).nonEmpty
            catch { case _: TransformerException => false })
      }.map(RuleMatch(_, name))
    }.nextOption()
  }

  // -------------------------------------------- transformation functions

  /** The reference's `@TransformationFunction` registry, keyed by method
    * name. `sourceCoordinationId` stands in for the reference's
    * SOURCE_COORDINATION_PIPELINE_IDENTIFIER environment variable. */
  def defaultFunctions(sourceCoordinationId: Option[String] = None): Map[String, Option[String] => Option[String]] = {
    // reference getDepth: null prefix → baseDepth; else split("/").length + baseDepth
    def depth(prefix: Option[String], base: Int): Option[String] =
      Some(prefix.map(_.split("/").length + base).getOrElse(base).toString)
    Map(
      "calculateDepth" -> (p => depth(p, 4)),
      "calculateDepthForRdsSource" -> (p =>
        depth(p, if (sourceCoordinationId.isDefined) 3 else 2)),
      "getSourceCoordinationIdentifierEnvVariable" -> { p =>
        (p, sourceCoordinationId) match {
          case (None, id) => id
          case (Some(pref), id) => Some(pref + "/" + id.getOrElse("null"))
        }
      },
      "getIncludePrefixForRdsSource" -> { p =>
        val short = sourceCoordinationId.map(shortenIdentifier(_, 15))
        (p, short) match {
          case (None, None) => Some("/buffer")
          case (None, Some(s)) => Some(s + "/buffer")
          case (Some(pref), None) => Some(pref + "/buffer")
          case (Some(pref), Some(s)) => Some(pref + "/" + s + "/buffer")
        }
      },
      "getAccountIdFromRole" -> { arn =>
        // arn:partition:service:region:account-id:resource — account is
        // field 4 (0-based); malformed → null (reference logs + null)
        arn.flatMap { a =>
          val parts = a.split(":", 6)
          if (parts.length >= 6 && parts(0) == "arn" && parts(4).nonEmpty) Some(parts(4))
          else None
        }
      })
  }

  /** SHA-256 → url-safe base64 (no padding) prefix, as the reference
    * shortens over-long source-coordination identifiers. */
  def shortenIdentifier(id: String, maxLength: Int): String =
    if (id.length <= maxLength) id
    else {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val b64 = java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(d)
      b64.substring(0, math.min(b64.length, maxLength))
    }

  // ------------------------------------------------- template expansion

  private val PipelineNamePlaceholder = "<<\\s*pipeline-name\\s*>>".r
  private val PlaceholderRe = "^<<\\s*(.+?)\\s*>>$".r
  private val FunctionCallRe = "FUNCTION_NAME:(.*?),PARAMETER:(.*)".r
  private val OverlayRe = "^<<overlay\\s+(.+?)>>$".r

  private def isJsonPathText(s: String): Boolean =
    s != null && s.contains("$.") && (try { parsePath(s); true } catch { case _: Throwable => false })

  /** Tree path into the template (object keys / array indices). */
  private type TPath = Vector[Either[String, Int]]

  private def setAt(v: JVal, path: TPath, nv: JVal): JVal = path match {
    case Left(k) +: rest => v match {
      case JObj(fields) => JObj(fields.map { case (fk, fv) =>
        if (fk == k) fk -> setAt(fv, rest, nv) else fk -> fv })
      case other => other
    }
    case Right(i) +: rest => v match {
      case JArr(items) if i < items.length => JArr(items.updated(i, setAt(items(i), rest, nv)))
      case other => other
    }
    case _ => nv // empty path: replace the node itself
  }

  /** Collect (path → full-string placeholder) value nodes, skipping
    * overlay-directive keys (they resolve in the overlay pass). */
  private def placeholders(v: JVal, at: TPath = Vector.empty): Vector[(TPath, String)] = v match {
    case JObj(fields) => fields.flatMap { case (k, x) =>
      if (OverlayRe.findFirstIn(k).isDefined) Vector.empty
      else placeholders(x, at :+ Left(k))
    }
    case JArr(items) => items.zipWithIndex.flatMap { case (x, i) => placeholders(x, at :+ Right(i)) }
    case JStr(s) if PlaceholderRe.findFirstMatchIn(s).isDefined => Vector((at, s))
    case _ => Vector.empty
  }

  /** Resolve one placeholder's inner text to the node substituted into the
    * template — JSONPath node fetch, function call, or raw text. */
  private def resolve(inner: String, wrapped: JObj,
      functions: Map[String, Option[String] => Option[String]]): JVal = {
    val value: Option[String] = inner match {
      case FunctionCallRe(fname, param) =>
        val arg: Option[String] =
          if (isJsonPathText(param)) evalPath(wrapped, param).headOption.flatMap {
            case JStr(s) => Some(s)
            case JNum(r) => Some(r)
            case JBool(b) => Some(b.toString)
            case JNull => None
            case _ => throw new TransformerException(s"function parameter must be a value node: $param")
          } else Some(param)
        val fn = functions.getOrElse(fname,
          throw new TransformerException(s"unknown transformation function '$fname'"))
        fn(arg)
      case other => Some(other)
    }
    value match {
      case None => JNull
      case Some(s) if s.contains("$..") =>
        throw new TransformerException(s"recursive json path is not supported in templates: $s")
      case Some(s) if isJsonPathText(s) =>
        val matches = evalPath(wrapped, s)
        // Jayway returns an array for filter paths; the reference unwraps
        // a single-element result when the path contains "[?(@."
        if (s.contains("[?(@.")) matches match {
          case Vector(one) => one
          case Vector() => JNull
          case many => JArr(many)
        } else matches.headOption.getOrElse(JNull)
      case Some(s) => JStr(s)
    }
  }

  /** Shallow merge (reference `deepMerge`: source fields overwrite). */
  private def mergeInto(target: JVal, overlay: JVal): JVal = (target, overlay) match {
    case (JObj(tf), JObj(of)) =>
      val keys = of.map(_._1).toSet
      JObj(tf.filterNot { case (k, _) => keys.contains(k) } ++ of)
    case (t, _) => t
  }

  private def applyOverlayAt(node: JVal, segs: List[String], overlay: JVal): JVal = segs match {
    case Nil => mergeInto(node, overlay)
    case seg :: rest if seg.endsWith("[*]") =>
      val field = seg.dropRight(3)
      node match {
        case JObj(fields) => JObj(fields.map { case (k, v) =>
          if (k != field) k -> v
          else k -> (v match {
            case JArr(items) => JArr(items.map { el =>
              rest match {
                case next :: tail => el match {
                  // reference quirk: the [*] step consumes the NEXT segment
                  // too, applying at el.<next> when present
                  case o: JObj if o.get(next).isDefined =>
                    JObj(o.fields.map { case (ek, ev) =>
                      if (ek == next) ek -> applyOverlayAt(ev, tail, overlay) else ek -> ev })
                  case other => other
                }
                case Nil => applyOverlayAt(el, Nil, overlay)
              }
            })
            case other => other
          })
        })
        case other => other
      }
    case seg :: rest => node match {
      case JObj(fields) if fields.exists(_._1 == seg) =>
        JObj(fields.map { case (k, v) => if (k == seg) k -> applyOverlayAt(v, rest, overlay) else k -> v })
      case other => other
    }
  }

  /** Resolve placeholders inside an overlay value, in place. */
  private def resolveInside(v: JVal, wrapped: JObj,
      functions: Map[String, Option[String] => Option[String]]): JVal = v match {
    case JObj(fields) => JObj(fields.map { case (k, x) => k -> resolveInside(x, wrapped, functions) })
    case JArr(items) => JArr(items.map(resolveInside(_, wrapped, functions)))
    case JStr(s) => PlaceholderRe.findFirstMatchIn(s) match {
      case Some(m) => resolve(m.group(1), wrapped, functions)
      case None => JStr(s)
    }
    case other => other
  }

  private def applyOverlays(v: JVal, wrapped: JObj,
      functions: Map[String, Option[String] => Option[String]]): JVal = v match {
    case JObj(fields) =>
      val (overlayKeys, plain) = fields.partition { case (k, _) => OverlayRe.findFirstIn(k).isDefined }
      val merged = overlayKeys.foldLeft(JObj(plain): JVal) { case (acc, (k, ov)) =>
        val OverlayRe(target) = k
        val resolved = resolveInside(ov, wrapped, functions)
        applyOverlayAt(acc, target.split('.').toList, resolved)
      }
      merged match {
        case JObj(fs) => JObj(fs.map { case (k, x) => k -> applyOverlays(x, wrapped, functions) })
        case other => other
      }
    case JArr(items) => JArr(items.map(applyOverlays(_, wrapped, functions)))
    case other => other
  }

  /** Expand a template for one matched pipeline. Returns the template's
    * pipelines (ordered) with every placeholder resolved. */
  def expand(templateYaml: String, pipelineName: String, pipelineModel: JVal,
      functions: Map[String, Option[String] => Option[String]]): JObj = {
    // the name is spliced verbatim into a JSON string literal below; a
    // quote, backslash or control character would break out of it
    if (pipelineName.exists(c => c == '"' || c == '\\' || c < ' '))
      throw new TransformerException(
        s"pipeline name ${Json.write(JStr(pipelineName))} cannot be spliced into a template: " +
          "it contains a quote, backslash or control character")
    val wrapped = JObj(Vector(pipelineName -> pipelineModel))
    // textual pipeline-name substitution over the serialized template, as
    // the reference does on the template JSON string
    val named = Json.parse(
      PipelineNamePlaceholder.replaceAllIn(Json.write(yamlToJson(templateYaml)),
        java.util.regex.Matcher.quoteReplacement(pipelineName)))
    val substituted = placeholders(named).foldLeft(named) { case (acc, (path, text)) =>
      val PlaceholderRe(inner) = text
      setAt(acc, path, resolve(inner, wrapped, functions))
    }
    applyOverlays(substituted, wrapped, functions) match {
      case o: JObj => o
      case other => throw new TransformerException(s"template must expand to a mapping, got $other")
    }
  }

  // ------------------------------------------------------- whole config

  final case class TransformResult(
      appliedPlugin: Option[String],
      pipelines: JObj) {
    def plainPipelines: Seq[(String, Any)] =
      pipelines.fields.map { case (k, v) => k -> toPlain(v) }
  }

  /** Reference `transformConfiguration`: evaluate rules, expand the first
    * matching template, carry untouched pipelines over, and repoint any
    * sub-pipeline fed by a `pipeline` sink of the transformed pipeline at
    * `<name>-s3` (the reference's fixed template suffix). */
  def transform(yamlText: String, bundles: Seq[RuleTemplate],
      functions: Map[String, Option[String] => Option[String]] = defaultFunctions()): TransformResult = {
    val root = yamlToJson(yamlText) match {
      case o: JObj => o
      case _ => throw new TransformerException("pipelines yaml must be a mapping")
    }
    firstMatch(root, bundles) match {
      case None => TransformResult(None, root)
      case Some(RuleMatch(bundle, name)) =>
        val model = root.get(name).get
        val expanded = expand(bundle.templateYaml, name, model, functions)
        // sub-pipelines downstream of the transformed pipeline via
        // `pipeline`-typed sinks
        val subNames: Set[String] = (for {
          JArr(sinks) <- model.asInstanceOf[JObj].get("sink").toSeq
          s <- sinks
          o <- Some(s).collect { case x: JObj => x }
          p <- o.get("pipeline").collect { case x: JObj => x }
          JStr(n) <- p.get("name")
        } yield n).toSet
        def repoint(p: JVal): JVal = p match {
          case o: JObj => JObj(o.fields.map {
            case ("source", src: JObj) => "source" -> JObj(src.fields.map {
              case ("pipeline", po: JObj) => "pipeline" -> JObj(po.fields.map {
                case ("name", _) => "name" -> JStr(name + "-s3")
                case kv => kv
              })
              case kv => kv
            })
            case kv => kv
          })
          case other => other
        }
        val carried = root.fields.collect {
          case (pn, pv) if pn != name && !expanded.get(pn).isDefined =>
            if (subNames.contains(pn)) pn -> repoint(pv) else pn -> pv
        }
        TransformResult(Some(bundle.rule.pluginName), JObj(expanded.fields ++ carried))
    }
  }

  /** Transform then compile: the full reference entry point —
    * `pipelines.yaml` + installed rule/template bundles → sink outputs. */
  def compile(spark: org.apache.spark.sql.SparkSession, yamlText: String,
      bundles: Seq[RuleTemplate],
      inputs: Map[String, org.apache.spark.sql.DataFrame] = Map.empty,
      functions: Map[String, Option[String] => Option[String]] = defaultFunctions())
      : Seq[PipelineYaml.SinkOutput] =
    compileWithResult(spark, yamlText, bundles, inputs, functions)._2

  /** [[compile]] that also surfaces the [[TransformResult]] (which rule
    * applied, the rewritten config) — the CLI's reporting seam. */
  def compileWithResult(spark: org.apache.spark.sql.SparkSession, yamlText: String,
      bundles: Seq[RuleTemplate],
      inputs: Map[String, org.apache.spark.sql.DataFrame] = Map.empty,
      functions: Map[String, Option[String] => Option[String]] = defaultFunctions())
      : (TransformResult, Seq[PipelineYaml.SinkOutput]) = {
    val result = transform(yamlText, bundles, functions)
    (result, PipelineYaml.compileDefs(spark,
      PipelineYaml.parsePlain(result.plainPipelines), inputs))
  }

  // ------------------------------------------------------- OCSF bundle

  /** The `ocsf` plugin's rule: a pipeline whose processor list carries an
    * `ocsf` marker with the PANW-traffic type at schema version 1.1
    * (reference `ocsf/.../ocsf-v1.1-panw-traffic-rule.yaml`). */
  val ocsfPanwRule: String =
    """plugin_name: "ocsf-v1.1-panw-traffic"
      |apply_when:
      |  - "$..processor[?(@.ocsf.type == 'palo_alto_networks_traffic_logs')]"
      |  - "$..processor[?(@.ocsf.version == '1.1')]"
      |""".stripMargin

  /** Own-authored OCSF v1.1 Network Activity (class_uid 4001) mapping for
    * PAN-OS traffic logs — a compact template in the reference's template
    * language, mapping the public PAN-OS traffic-log fields onto the
    * public OCSF v1.1 schema with the engine's existing processors. The
    * reference ships a larger generated template
    * (`ocsf-v1.1-panw-traffic-template.yaml`); this one demonstrates the
    * same transform machinery end to end and is fully oracle-replayable.
    */
  val ocsfPanwTemplate: String =
    """"<<pipeline-name>>":
      |  source: "<<$.<<pipeline-name>>.source>>"
      |  processor:
      |    - date:
      |        match:
      |          - key: Start_Time
      |            patterns: ["yyyy-MM-dd'T'HH:mm:ss"]
      |        destination: time
      |        output_format: epoch_second
      |    - date:
      |        match:
      |          - key: Receive_Time
      |            patterns: ["yyyy-MM-dd'T'HH:mm:ss"]
      |        destination: logged_time
      |        output_format: epoch_second
      |    - convert_type:
      |        key: time
      |        type: integer
      |    - convert_type:
      |        key: logged_time
      |        type: integer
      |    - add_entries:
      |        entries:
      |          - key: category_uid
      |            value: 4
      |          - key: class_uid
      |            value: 4001
      |          - key: class_name
      |            value: Network Activity
      |          - key: severity_id
      |            value: 1
      |          - key: activity_id
      |            value: 6
      |          - key: activity_name
      |            value: Traffic
      |          - key: src_ip
      |            format: "${Source_Address}"
      |          - key: dst_ip
      |            format: "${Destination_Address}"
      |          - key: proto_name
      |            format: "${Protocol}"
      |          - key: traffic_bytes
      |            value_expression: "/Bytes_Sent + /Bytes_Received"
      |    - rename_keys:
      |        entries:
      |          - from_key: Rule_Name
      |            to_key: firewall_rule
      |    - select_entries:
      |        include_keys: [src_id, time, logged_time, category_uid, class_uid,
      |                       class_name, severity_id, activity_id, activity_name,
      |                       src_ip, dst_ip, proto_name, traffic_bytes, firewall_rule]
      |  sink: "<<$.<<pipeline-name>>.sink>>"
      |""".stripMargin

  val ocsfBundle: RuleTemplate = RuleTemplate(ocsfPanwRule, ocsfPanwTemplate)
}
