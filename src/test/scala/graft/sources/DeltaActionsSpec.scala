package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import DeltaActions._

/** The `_delta_log` codec: every action kind survives encode → decode,
  * whatever its strings hold; descriptors decode in any field order;
  * foreign values and unknown kinds decode the way the reader relies on.
  */
class DeltaActionsSpec extends AnyFunSuite {

  /** Strings a path, key or value may hold: JSON's structural escapes,
    * control characters and non-ASCII text.
    */
  private val nasty = Seq("plain", "a\"b", "back\\slash", "\\\"", "tab\there",
    "nl\nline", "nul\u0000bell\u0007", "\u001f", "é", "日本語", "emoji 😀",
    "mixed \"é\\\n\u0001 日", "", "{\"add\":{}}")

  private val dvs = Seq(
    Dv("u", "ab^-!0000000000007A]", Some(1), 34, 1L),
    Dv("p", "/abs/path/with \"quote\"/deletion_vector_x.bin", Some(77), 120, 9L),
    Dv("i", "wi5b=000010000siXQKl0rr91000f55c8Xg0@@D72lkbi5=-{L", None, 40, Long.MaxValue))

  private def actions: Seq[Action] = nasty.flatMap { s =>
    val pv = Map(s -> s, "k" -> "v", "nullValue" -> null)
    Seq(
      Add(s, pv, dataChange = true),
      Add(s, Map.empty, dataChange = false, Some(s"""{"numRecords":3,"n":"$s"}"""), Some(dvs.head)),
      Remove(s, dataChange = false),
      Remove(s, dataChange = true, Some(dvs(1)), pv),
      Cdc(s, pv, Some(1241L), dataChange = false),
      Cdc(s, Map.empty, None, dataChange = true),
      MetaData(s, s"""{"type":"struct","fields":[],"x":"$s"}""", Seq(s, "p"),
        Map(s -> s, "delta.enableChangeDataFeed" -> "true")),
      Protocol(3, 7, Seq(s), Seq("deletionVectors", s)),
      Protocol(1, 2),
      CommitInfo(Some(1700000000000L)),
      CommitInfo(None))
  } ++ dvs.map(d => Add("f.parquet", Map("p" -> "1"), dataChange = true, None, Some(d)))

  test("decode(encode(a)) == a for every action kind and awkward input") {
    actions.foreach { a =>
      val line = a.json
      assert(!line.contains("\n"), s"one action is one line: $line")
      assert(decode(line).contains(a), line)
    }
  }

  test("the encoder writes the field order the pinned log holds") {
    val dv = Dv("u", "000000000000000007A]", Some(1), 34, 1L)
    assert(Add("compact-2-1-0.parquet", Map("part" -> "b"), dataChange = false,
      Some("""{"numRecords":3}"""), Some(dv)).json ==
      """{"add":{"path":"compact-2-1-0.parquet","partitionValues":{"part":"b"},""" +
        """"dataChange":false,"stats":"{\"numRecords\":3}","deletionVector":""" +
        """{"storageType":"u","pathOrInlineDv":"000000000000000007A]","offset":1,""" +
        """"sizeInBytes":34,"cardinality":1}}}""")
    assert(Remove("a\"b.parquet", dataChange = false).json ==
      """{"remove":{"path":"a\"b.parquet","dataChange":false}}""")
    assert(Cdc("c.parquet", Map("part" -> "b"), Some(5L), dataChange = false).json ==
      """{"cdc":{"path":"c.parquet","partitionValues":{"part":"b"},"size":5,"dataChange":false}}""")
    assert(Protocol(3, 7, Seq("deletionVectors"), Seq("deletionVectors")).json ==
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""")
    assert(LastCheckpoint(3L, 3L).json == """{"version":3,"size":3}""")
    assert(LastCheckpoint(3L, 4L, Some(2)).json == """{"version":3,"size":4,"parts":2}""")
  }

  test("a descriptor decodes the same in the legacy alphabetical field order") {
    val canonical = """{"remove":{"path":"f","dataChange":true,"deletionVector":""" +
      """{"storageType":"u","pathOrInlineDv":"000000000000000007A]","offset":1,""" +
      """"sizeInBytes":34,"cardinality":2}}}"""
    val alphabetical = """{"remove":{"dataChange":true,"deletionVector":""" +
      """{"cardinality":2,"offset":1,"pathOrInlineDv":"000000000000000007A]",""" +
      """"sizeInBytes":34,"storageType":"u"},"path":"f"}}"""
    assert(decode(alphabetical) == decode(canonical))
    assert(decode(canonical).contains(
      Remove("f", dataChange = true, Some(Dv("u", "000000000000000007A]", Some(1), 34, 2L)))))
  }

  test("foreign values decode to their JSON text; unknown kinds are skipped") {
    assert(decode("""{"add":{"path":"f","partitionValues":{"n":1,"d":1.5,"b":true,"z":null,"s":"x"}}}""")
      .contains(Add("f", Map("n" -> "1", "d" -> "1.5", "b" -> "true", "z" -> null, "s" -> "x"),
        dataChange = true)))
    assert(decode("""{"metaData":{"schemaString":"{}","configuration":{"a":2}}}""")
      .contains(MetaData("", "{}", Seq.empty, Map("a" -> "2"))))
    assert(decode("""{"txn":{"appId":"x","version":3}}""").isEmpty)
    assert(decode("""{"domainMetadata":{"domain":"d","configuration":"{}","removed":false}}""").isEmpty)
    assert(decode("""{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""")
      .contains(CommitInfo(None)))
  }

  test("malformed lines and missing required fields throw") {
    Seq("""{"add":{"path":"part=a/f""", "[1,2]", """{"add":{"partitionValues":{}}}""",
      """{"add":{"path":"f","deletionVector":{"storageType":"u"}}}""",
      """{"metaData":{"id":"x"}}""").foreach { line =>
      intercept[Exception](decode(line))
    }
  }
}
