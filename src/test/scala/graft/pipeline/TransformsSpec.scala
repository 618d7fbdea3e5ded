package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.util.Json._

/** Pipeline-configuration transforms vs the reference's rule evaluator +
  * dynamic config transformer (data-prepper-pipeline-parser
  * rule/RuleEvaluator.java, transformer/DynamicConfigTransformer.java) and
  * transformation functions (aws-plugin PipelineTransformFunctions.java). */
class TransformsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------ jsonpath

  private val doc = Transforms.yamlToJson(
    """ingest:
      |  workers: 4
      |  source:
      |    rds:
      |      joins: true
      |      s3_bucket: b1
      |  processor:
      |    - ocsf:
      |        type: palo_alto_networks_traffic_logs
      |        version: '1.1'
      |    - grok:
      |        match: {}
      |  sink:
      |    - opensearch:
      |        index: x
      |    - stdout:
      |""".stripMargin)

  test("jsonpath subset: child, recursive, index, filters") {
    assert(Transforms.evalPath(doc, "$.ingest.workers") == Vector(JNum("4")))
    assert(Transforms.evalPath(doc, "$..source.rds").nonEmpty)
    assert(Transforms.evalPath(doc, "$..source.rds.s3_bucket") == Vector(JStr("b1")))
    assert(Transforms.evalPath(doc, "$..source.mysql").isEmpty)
    assert(Transforms.evalPath(doc, "$.ingest.processor[0].ocsf.version") == Vector(JStr("1.1")))
    assert(Transforms.evalPath(doc,
      "$..processor[?(@.ocsf.type == 'palo_alto_networks_traffic_logs')]").size == 1)
    assert(Transforms.evalPath(doc, "$..processor[?(@.ocsf.type == 'other')]").isEmpty)
    assert(Transforms.evalPath(doc, "$..sink[?(@.opensearch)]").size == 1)
    assert(Transforms.evalPath(doc, "$..sink[?(@.opensearch)].opensearch.index") == Vector(JStr("x")))
  }

  test("rule precedence: most apply_when conditions first (rds-joins beats rds)") {
    val generic = Transforms.RuleTemplate(
      "plugin_name: generic\napply_when:\n  - \"$..source.rds\"\n",
      "\"<<pipeline-name>>\": {}\n")
    val specific = Transforms.RuleTemplate(
      "plugin_name: specific\napply_when:\n  - \"$..source.rds\"\n  - \"$..source.rds.joins\"\n",
      "\"<<pipeline-name>>\": {}\n")
    val m = Transforms.firstMatch(doc.asInstanceOf[JObj], Seq(generic, specific))
    assert(m.map(_.bundle.rule.pluginName) == Some("specific"))
    // order of bundle registration must not matter for the winner
    val m2 = Transforms.firstMatch(doc.asInstanceOf[JObj], Seq(specific, generic))
    assert(m2.map(_.bundle.rule.pluginName) == Some("specific"))
  }

  // ------------------------------------------------------ template expand

  private val miniTemplate =
    """"<<pipeline-name>>":
      |  workers: "<<$.<<pipeline-name>>.workers>>"
      |  source:
      |    copied: "<<$.<<pipeline-name>>.source.rds>>"
      |  absent: "<<$.<<pipeline-name>>.nope.nothing>>"
      |  bucket_from_filter: "<<$.<<pipeline-name>>.sink[?(@.opensearch)].opensearch.index>>"
      |  account: "<<FUNCTION_NAME:getAccountIdFromRole,PARAMETER:$.<<pipeline-name>>.role>>"
      |  depth: "<<FUNCTION_NAME:calculateDepth,PARAMETER:$.<<pipeline-name>>.prefix>>"
      |  literal: plain
      |""".stripMargin

  private val pipelineModel = Transforms.yamlToJson(
    """workers: 8
      |role: "arn:aws:iam::123456789012:role/ingest"
      |prefix: "a/b/c"
      |source:
      |  rds:
      |    host: h
      |    joins: [x, y]
      |sink:
      |  - opensearch:
      |      index: logs
      |""".stripMargin)

  test("template expansion: node substitution, missing path → null, filter unwrap, functions") {
    val out = Transforms.expand(miniTemplate, "my-pipe", pipelineModel,
      Transforms.defaultFunctions())
    val p = out.get("my-pipe").get.asInstanceOf[JObj]
    assert(p.get("workers") == Some(JNum("8")))
    // whole node copied, order preserved
    assert(p.get("source").get.asInstanceOf[JObj].get("copied").get.asInstanceOf[JObj]
      .fields.map(_._1) == Vector("host", "joins"))
    assert(p.get("absent") == Some(JNull))
    // single-element filter result unwraps (reference array disambiguator)
    assert(p.get("bucket_from_filter") == Some(JStr("logs")))
    assert(p.get("account") == Some(JStr("123456789012")))
    assert(p.get("depth") == Some(JStr("7"))) // 3 path segments + 4
    assert(p.get("literal") == Some(JStr("plain")))
  }

  test("recursive path inside a template is rejected (reference TransformerException)") {
    intercept[Transforms.TransformerException] {
      Transforms.expand("\"<<pipeline-name>>\":\n  x: \"<<$..source>>\"\n",
        "p", pipelineModel, Transforms.defaultFunctions())
    }
  }

  test("a pipeline name that cannot sit in a JSON string literal is rejected") {
    for (name <- Seq("my\"pipe", "my\\pipe", "my\npipe")) {
      val e = intercept[Transforms.TransformerException] {
        Transforms.expand(miniTemplate, name, pipelineModel, Transforms.defaultFunctions())
      }
      assert(e.getMessage.contains("cannot be spliced"))
    }
    // ordinary punctuation in a name still expands
    assert(Transforms.expand(miniTemplate, "my-pipe_2", pipelineModel,
      Transforms.defaultFunctions()).get("my-pipe_2").isDefined)
  }

  test("transformation functions match the reference implementations") {
    val noEnv = Transforms.defaultFunctions(None)
    val env = Transforms.defaultFunctions(Some("pipeline-ident-that-is-long"))
    assert(noEnv("calculateDepth")(None) == Some("4"))
    assert(noEnv("calculateDepth")(Some("x/y")) == Some("6"))
    assert(noEnv("calculateDepthForRdsSource")(Some("x")) == Some("3"))
    assert(env("calculateDepthForRdsSource")(Some("x")) == Some("4"))
    assert(env("getSourceCoordinationIdentifierEnvVariable")(None) ==
      Some("pipeline-ident-that-is-long"))
    assert(env("getSourceCoordinationIdentifierEnvVariable")(Some("pre")) ==
      Some("pre/pipeline-ident-that-is-long"))
    assert(noEnv("getIncludePrefixForRdsSource")(None) == Some("/buffer"))
    assert(noEnv("getIncludePrefixForRdsSource")(Some("p")) == Some("p/buffer"))
    // long identifier shortens to a 15-char url-safe base64 sha prefix
    val short = Transforms.shortenIdentifier("pipeline-ident-that-is-long", 15)
    assert(short.length == 15 && !short.contains("=") )
    assert(env("getIncludePrefixForRdsSource")(Some("p")) == Some(s"p/$short/buffer"))
    assert(noEnv("getAccountIdFromRole")(Some("arn:aws:iam::123456789012:role/r")) ==
      Some("123456789012"))
    assert(noEnv("getAccountIdFromRole")(Some("not-an-arn")) == None)
    assert(noEnv("getAccountIdFromRole")(None) == None)
  }

  test("overlay directive: shallow merge into every wildcard-matched sink plugin") {
    val tpl =
      """"<<pipeline-name>>":
        |  sink:
        |    - opensearch:
        |        index: a
        |        action: index
        |    - opensearch:
        |        index: b
        |  "<<overlay sink[*].opensearch>>":
        |    action: upsert
        |    routing: "<<$.<<pipeline-name>>.routing_key>>"
        |""".stripMargin
    val model = Transforms.yamlToJson("routing_key: rk\n")
    val out = Transforms.expand(tpl, "p", model, Transforms.defaultFunctions())
    val sinks = out.get("p").get.asInstanceOf[JObj].get("sink").get.asInstanceOf[JArr]
    sinks.items.foreach { s =>
      val os = s.asInstanceOf[JObj].get("opensearch").get.asInstanceOf[JObj]
      assert(os.get("action") == Some(JStr("upsert")))
      assert(os.get("routing") == Some(JStr("rk")))
    }
    // overlay key itself is gone
    assert(!out.get("p").get.asInstanceOf[JObj].fields.exists(_._1.startsWith("<<overlay")))
    // non-overlaid field kept
    assert(sinks.items.head.asInstanceOf[JObj].get("opensearch").get
      .asInstanceOf[JObj].get("index") == Some(JStr("a")))
  }

  test("whole-config transform: matched pipeline replaced, siblings carried, sub-pipeline repointed") {
    val yaml =
      """main:
        |  source:
        |    in_memory:
        |      testing_key: k
        |  processor:
        |    - ocsf:
        |        type: palo_alto_networks_traffic_logs
        |        version: '1.1'
        |  sink:
        |    - pipeline:
        |        name: child
        |child:
        |  source:
        |    pipeline:
        |      name: main
        |  sink:
        |    - stdout:
        |untouched:
        |  source:
        |    in_memory:
        |      testing_key: z
        |  sink:
        |    - stdout:
        |""".stripMargin
    val bundle = Transforms.RuleTemplate(Transforms.ocsfPanwRule,
      """"<<pipeline-name>>":
        |  source: "<<$.<<pipeline-name>>.source>>"
        |  sink: "<<$.<<pipeline-name>>.sink>>"
        |""".stripMargin)
    val r = Transforms.transform(yaml, Seq(bundle))
    assert(r.appliedPlugin == Some("ocsf-v1.1-panw-traffic"))
    val names = r.pipelines.fields.map(_._1)
    assert(names == Vector("main", "child", "untouched"))
    // the child fed by main's pipeline sink is repointed at main-s3
    val childSrc = r.pipelines.get("child").get.asInstanceOf[JObj]
      .get("source").get.asInstanceOf[JObj]
      .get("pipeline").get.asInstanceOf[JObj]
    assert(childSrc.get("name") == Some(JStr("main-s3")))
    // untouched pipeline untouched
    assert(r.pipelines.get("untouched") ==
      Transforms.yamlToJson(yaml).asInstanceOf[JObj].get("untouched"))
    // no rule match → identity
    val r2 = Transforms.transform(yaml.replace("'1.1'", "'9.9'"), Seq(bundle))
    assert(r2.appliedPlugin.isEmpty)
    assert(r2.pipelines == Transforms.yamlToJson(yaml.replace("'1.1'", "'9.9'")))
  }

  test("ocsf bundle end to end: marker pipeline expands and runs the OCSF mapping") {
    val panw = Seq(
      ("e1", "2024-03-01T10:15:00", "2024-03-01T10:15:05", "10.0.0.1", "192.168.1.9", "tcp", 1200L, 300L, "allow-web"),
      ("e2", "2024-03-01T11:00:30", "2024-03-01T11:00:31", "10.0.0.2", "192.168.1.10", "udp", 80L, 0L, "dns-out"))
      .toDF("src_id", "Start_Time", "Receive_Time", "Source_Address",
        "Destination_Address", "Protocol", "Bytes_Sent", "Bytes_Received", "Rule_Name")
    val yaml =
      """panw:
        |  source:
        |    in_memory:
        |      testing_key: panw
        |  processor:
        |    - ocsf:
        |        type: palo_alto_networks_traffic_logs
        |        version: '1.1'
        |  sink:
        |    - stdout:
        |""".stripMargin
    val outs = Transforms.compile(spark, yaml, Seq(Transforms.ocsfBundle),
      inputs = Map("panw" -> panw))
    val df = outs.head.df
    val rows = df.orderBy("src_id").collect()
    assert(df.columns.toSet == Set("src_id", "time", "logged_time", "category_uid",
      "class_uid", "class_name", "severity_id", "activity_id", "activity_name",
      "src_ip", "dst_ip", "proto_name", "traffic_bytes", "firewall_rule"))
    val r1 = rows(0)
    assert(r1.getAs[Number]("time").longValue == 1709288100L) // 2024-03-01T10:15:00Z
    assert(r1.getAs[Number]("logged_time").longValue == 1709288105L)
    assert(r1.getAs[Any]("class_uid") == 4001)
    assert(r1.getAs[String]("class_name") == "Network Activity")
    assert(r1.getAs[String]("src_ip") == "10.0.0.1")
    assert(r1.getAs[String]("proto_name") == "tcp")
    assert(r1.getAs[Any]("traffic_bytes") == 1500.0 || r1.getAs[Any]("traffic_bytes") == 1500L)
    assert(r1.getAs[String]("firewall_rule") == "allow-web")
  }
}
