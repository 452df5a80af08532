package graft.marc

import org.scalatest.funsuite.AnyFunSuite

/** The declarative `.rb` translation-map parser: constructs from the
  * reference's test maps (translation_map_test.rb fixtures, written by
  * hand under test resources), loud failures on procedural Ruby, YAML
  * round-trip. */
class RbMapSpec extends AnyFunSuite {

  private val rubyMapStyle =
    """foo = "bar"
      |
      |some_hash = {
      |  "key1" => "value1",
      |  "array_key" => %w{one two three},
      |  "key_to_be_overridden" => "value_from_ruby"
      |}
      |some_hash["also"] = "this"
      |
      |# can be other ruby here, last line needs to evaluate as a Hash
      |some_hash
      |""".stripMargin

  test("hash literal + %w + mutation + last-line variable (ruby_map shape)") {
    val m = RbMap.parse(rubyMapStyle).toMap
    assert(m("key1") == "value1")
    assert(m("array_key") == Vector("one", "two", "three"))
    assert(m("key_to_be_overridden") == "value_from_ruby")
    assert(m("also") == "this")
    assert(!m.contains("foo"))
  }

  test("defaults flow into TranslationMap: literal and passthrough") {
    val lit = RbMap.toTranslationMap(
      """h = { "key1" => "value1" }
        |h["__default__"] = "DEFAULT LITERAL"
        |h""".stripMargin)
    assert(lit.translateArray(Seq("key1", "missing")) ==
      Vector("value1", "DEFAULT LITERAL"))
    val pass = RbMap.toTranslationMap(
      """{ "key1" => "value1", "__default__" => "__passthrough__" }""")
    assert(pass.translateArray(Seq("key1", "missing")) ==
      Vector("value1", "missing"))
  }

  test("literal forms: nil removal, symbols, numbers, freeze, arrays, escapes") {
    val m = RbMap.parse(
      """{
        |  "gone" => nil,
        |  :sym => "v",
        |  "n" => 42,
        |  "f" => -1.5,
        |  "frozen" => "str".freeze,
        |  "arr" => ["a", "b"],
        |  "esc" => "line\nbreak 'q' \"dq\"",
        |  "single" => 'it\'s ok',
        |  "flag" => true
        |}""".stripMargin).toMap
    assert(m("gone") == null)
    assert(m("sym") == "v")
    assert(m("n") == 42L)
    assert(m("f") == -1.5)
    assert(m("frozen") == "str")
    assert(m("arr") == Vector("a", "b"))
    assert(m("esc") == "line\nbreak 'q' \"dq\"")
    assert(m("single") == "it's ok")
    assert(m("flag") == true)
    // nil entries remove the input value in translate
    assert(TranslationMap.fromRaw(m).translateArray(Seq("gone", "sym")) == Vector("v"))
  }

  test("procedural Ruby fails loudly, never silently") {
    val bad = Seq(
      "x+y\n\nThis is\n  not valid ruby",       // bad_ruby.rb shape
      "require 'match_map'\nmm = MatchMap.new\nmm", // the MatchMap maps
      """{ "k" => "#{interpolated}" }""",
      "h = { \"k\" => \"v\" }\nh.merge({})",
      """def f; end""",
      """foo = "bar"""",                         // last line not a hash
      // Ruby evaluates `h["k"] = v` to v, so a mutation-last file is a
      // non-Hash result — the reference loader rejects it; so do we
      "h = { \"a\" => \"b\" }\nh[\"c\"] = \"d\"")
    for (src <- bad) {
      val e = intercept[IllegalArgumentException](RbMap.parse(src))
      assert(e.getMessage.contains("declarative") ||
        e.getMessage.contains("hash expression"), s"weak error for: $src\n$e")
    }
  }

  test("YAML round-trip loads back identically (snakeyaml → fromRaw)") {
    import scala.jdk.CollectionConverters._
    val yaml = RbMap.toYaml(rubyMapStyle)
    val loaded = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[Any, Any]](yaml).asScala.toMap
    assert(TranslationMap.fromRaw(loaded) == RbMap.toTranslationMap(rubyMapStyle))
  }

  test("converts declarative .rb maps from the classpath (country_map et al)") {
    def source(name: String): String = {
      val in = getClass.getClassLoader.getResourceAsStream(s"translation_maps/$name.rb")
      assert(in != null, s"missing fixture translation_maps/$name.rb")
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    for (name <- Seq("ruby_map", "both_map", "default_literal",
        "default_passthrough", "country_map")) {
      val tm = RbMap.toTranslationMap(source(name))
      assert(tm.entries.nonEmpty || tm.default.nonEmpty, s"empty map from $name")
    }
    // spot semantics on the country map, through the named-map loader
    assert(TranslationMap.named("country_map").translateArray(Seq("us")) ==
      Vector("United States"))
    assert(TranslationMap.named("default_literal").translateArray(Seq("key1", "zz")) ==
      Vector("value1", "DEFAULT LITERAL"))
    assert(TranslationMap.named("default_passthrough").translateArray(Seq("zz")) ==
      Vector("zz"))
    // and the bad_ruby fixture must be rejected
    intercept[IllegalArgumentException](RbMap.parse(source("bad_ruby")))
  }
}
