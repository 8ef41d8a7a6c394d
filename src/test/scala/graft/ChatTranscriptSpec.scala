package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ChatExport, Transcript}

/** Goldens generated by executing the reference parsers
  * (worker/app/services/parse_chatgpt.py, parse_transcript.py) over
  * self-authored fixtures in the same export/transcript formats.
  */
class ChatTranscriptSpec extends AnyFunSuite with SharedSpark {

  private val exportJson =
    """[
      {"id": "conv-1", "title": "Spark questions",
       "create_time": 1704103200, "update_time": 1704106800.5,
       "mapping": {
         "n1": {"message": {"author": {"role": "user"},
                "content": {"parts": ["how do joins work?"]}, "create_time": 1704103260}},
         "n2": {"message": {"author": {"role": "assistant"},
                "content": {"parts": ["they match rows by key", {"text": "with shuffles"}]},
                "create_time": 1704103320}},
         "n0": {"message": {"author": {"role": "system"}, "content": "be helpful",
                "create_time": 1704103200}},
         "skip": {"message": {"author": {"role": "user"}, "content": {"parts": []}}}
       }},
      {"conversation_id": "conv-2", "mapping": {
         "a": {"message": {"author": {"role": "user"},
               "content": ["plain", {"text": "list"}], "create_time": 1704200000}}}},
      {"no_mapping": true}
    ]"""

  test("chat export structural detection (reference golden)") {
    assert(ChatExport.isChatExport(exportJson))
    assert(!ChatExport.isChatExport("""{"not": "a list"}"""))
    assert(!ChatExport.isChatExport("""[{"mapping": "not-a-dict"}]"""))
    assert(ChatExport.isChatExport("anything", filename = "conversations.json"))
  }

  test("chat export explodes into per-conversation documents (reference goldens)") {
    import spark.implicits._
    val rows = Seq(exportJson).toDF("raw")
      .select(posexplode(ChatExport.chatConversations(col("raw"))).as(Seq("i", "conv")))
      .select("conv.*")
      .orderBy("conversation_id")
      .collect()

    assert(rows.length == 2)
    val c1 = rows(0)
    assert(c1.getAs[String]("conversation_id") == "conv-1")
    assert(c1.getAs[String]("title") == "Spark questions")
    assert(c1.getAs[String]("text") ==
      "[2024-01-01 10:00] system: be helpful\n\n" +
        "[2024-01-01 10:01] user: how do joins work?\n\n" +
        "[2024-01-01 10:02] assistant: they match rows by key\nwith shuffles")
    assert(c1.getAs[Int]("message_count") == 3)
    assert(c1.getAs[String]("chat_created_at") == "2024-01-01T10:00:00Z")
    assert(c1.getAs[String]("chat_updated_at") == "2024-01-01T11:00:00.500000Z")

    val c2 = rows(1)
    assert(c2.getAs[String]("conversation_id") == "conv-2")
    assert(c2.getAs[String]("text") == "[2024-01-02 12:53] user: plain\nlist")
    assert(c2.getAs[String]("title") == null)
  }

  private val transcriptText =
    """User: what is a shuffle?
      |Assistant: data movement between stages.
      |user: and a broadcast?
      |AI: sending a small table to every node.
      |System: end of chat.
      |""".stripMargin

  test("transcript confidence matches reference scoring (0.99 / 0.0)") {
    import spark.implicits._
    val df = Seq(
      (transcriptText, "support_chat.txt"),
      ("just a plain note about groceries\nmilk, eggs, bread\nand nothing else here at all",
        "note.txt"))
      .toDF("text", "filename")
      .select(Transcript.confidence(col("text"), col("filename")).as("conf"),
        Transcript.isTranscript(col("text"), col("filename")).as("is_t"))
      .collect()
    assert(df(0).getDouble(0) == 0.99 && df(0).getBoolean(1))
    assert(df(1).getDouble(0) == 0.0 && !df(1).getBoolean(1))
  }

  test("transcript parse: roles normalized, deterministic id, title (reference goldens)") {
    import spark.implicits._
    val row = Seq((transcriptText, "support_chat.txt")).toDF("text", "filename")
      .select(Transcript.parseTranscriptCol(col("text"), col("filename")).as("p"))
      .select("p.*").head

    assert(row.getAs[String]("document_id") == "transcript:149117b9005f1b6c:149117b9005f_0")
    assert(row.getAs[String]("text") ==
      "User: what is a shuffle?\n\nAssistant: data movement between stages.\n\n" +
        "User: and a broadcast?\n\nAssistant: sending a small table to every node.\n\n" +
        "System: end of chat.")
    assert(row.getAs[String]("title") == "support chat: what is a shuffle?")
    assert(row.getAs[Int]("message_count") == 5)
  }
}
