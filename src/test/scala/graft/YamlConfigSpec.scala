package graft

import graft.config.GraftConfig

import org.scalatest.funsuite.AnyFunSuite

/** Valid YAML the config loader must read as YAML: block-style lists,
  * single-quoted scalars and a `#` inside a quoted scalar. */
class YamlConfigSpec extends AnyFunSuite {

  test("block lists, single quotes and a quoted '#' parse as YAML") {
    val cfg = GraftConfig.fromYaml(
      """sink:
        |  url: "http://h/a #b"
        |  collection: 'docs'
        |mappings:
        |  - table: public.documents
        |    text_columns:
        |      - title
        |      - content
        |    metadata_columns:
        |      - author
        |  - table: public.products
        |""".stripMargin)
    assert(cfg.sinkUrl == "http://h/a #b")
    assert(cfg.sinkCollection == "docs")
    assert(cfg.mappings.map(_.table) == Seq("public.documents", "public.products"))
    assert(cfg.mappings.head.textColumns == Seq("title", "content"))
    assert(cfg.mappings.head.metadataColumns == Seq("author"))
  }

  test("malformed YAML and misplaced shapes raise IllegalArgumentException") {
    Seq(
      "sink: [unclosed\n",               // malformed
      "- just\n- a list\n",              // root is not a mapping
      "embedding: ollama\n",             // section is a scalar
      "mappings: public.documents\n",    // mappings is not a list
      "mappings:\n  - just a table\n",   // a mappings item is not a mapping
      "sink:\n  url: [a, b]\n"           // a list where a scalar belongs
    ).foreach { y =>
      intercept[IllegalArgumentException](GraftConfig.fromYaml(y))
    }
  }
}
