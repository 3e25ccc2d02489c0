package graft.gate

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.{Readers, PagedSource}
import graft.sinks.Writers
import graft.gate.Gate._

/** Gated queries for the sources (R1–R5), parsers (P1–P5) and writers
  * (W1–W3).
  */
private[graft] object ReaderGates {

  lazy val queries: Seq[GatedQuery] = Seq(
    GatedQuery("q_r1_reader_file",
      (s, dir) =>
        Readers.read(s, s"file:$dir/nation.parquet", "parquet")
          .orderBy("n_nationkey"),
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),

    GatedQuery("q_r2_json_rootnode",
      (s, dir) => {
        val rows = t(s, dir, "region").orderBy("r_regionkey").toJSON.collect()
        val file = tmp("r2_doc", dir) + ".json"
        java.nio.file.Files.writeString(java.nio.file.Paths.get(file),
          rows.mkString("""{"meta":{"v":1},"data":[""", ",", "]}"))
        Readers.json(s, file, rootNode = "data")
          .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
          .orderBy("r_regionkey")
      },
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),

    GatedQuery("q_r3_ndjson",
      (s, dir) => {
        val out = tmp("r3_ndjson", dir)
        Writers.ndjson(t(s, dir, "nation"), out)
        Readers.jsons(s, out)
          .select(col("n_nationkey").cast("int").as("n_nationkey"), col("n_name"),
                  col("n_regionkey").cast("int").as("n_regionkey"))
          .orderBy("n_nationkey")
      },
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),

    GatedQuery("q_r4_paged",
      (s, dir) => {
        // Synthetic paginated API: pages 0-2 and 4 carry 100 records each, page 3
        // is empty once (streak resets), pages 5+ empty → terminates via the
        // empty-page×2 rule. Oracle reproduces the id set with range().
        def page(p: Int): String =
          (0 until 100).map(j => s"""{"id":${p * 100 + j},"grp":${(p * 100 + j) % 7}}""").mkString("\n")
        val fetch: PagedSource.PageState => Option[String] = st =>
          if (st.page > 8) None
          else if (st.page == 3 || st.page >= 5) Some("")
          else Some(page(st.page))
        PagedSource.read(s, fetch, PagedSource.parseNdjson _)
          .groupBy("grp").agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"))
          .orderBy("grp")
      },
      """SELECT i % 7 AS grp, count(*) AS n, CAST(sum(i) AS BIGINT) AS sum_id
         FROM (SELECT range AS i FROM range(0, 500)) WHERE i < 300 OR i >= 400
         GROUP BY 1 ORDER BY grp"""),

    /** R4 through the DataSource V2 path ([[graft.sources.v2]],
      * `spark.read.format("graft-http")`): one input partition per page,
      * fetched on EXECUTORS — the cluster-parallel sibling of
      * `q_r4_paged`'s driver-side discovery loop. `pages = 8` plans three
      * empty trailing pages too: planned-but-empty partitions must
      * contribute zero rows, not errors. Same aggregate anchors and the
      * same `range()` oracle family as the driver-loop gate.
      */
    GatedQuery("q_r4_paged_v2",
      (s, dir) => {
        val rec = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("grp", org.apache.spark.sql.types.LongType)))
        s.read.format("graft-http")
          .option("url", pagedV2Url)
          .option("pages", 8)
          .option("limit", 100)
          .load()
          .select(from_json(col("value"), rec).as("r"))
          .select(col("r.id").as("id"), col("r.grp").as("grp"))
          .groupBy("grp").agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"))
          .orderBy("grp")
      },
      // DSv2 path: pages 0-4 x 100 records, ids 0..499, empty trailing pages
      """SELECT i % 7 AS grp, count(*) AS n, CAST(sum(i) AS BIGINT) AS sum_id
         FROM (SELECT range AS i FROM range(0, 500))
         GROUP BY 1 ORDER BY grp"""),

    GatedQuery("q_r5_folder",
      (s, dir) => {
        val folder = tmp("r5_folder", dir)
        new java.io.File(folder).mkdirs()
        val sup = t(s, dir, "supplier")
        (0 until 3).foreach { i =>
          val lines = sup.filter(pmod(col("s_suppkey"), lit(3)) === i).orderBy("s_suppkey")
            .toJSON.collect().mkString("\n")
          java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$folder/src_$i.jsons"), lines)
        }
        Readers.folder(s, folder, "*.jsons", "json",
            fileNamePredicate = Some(f => !f.contains("src_2")))
          .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"))
          .orderBy("s_suppkey")
      },
      """SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey % 3 != 2
         ORDER BY s_suppkey"""),

    GatedQuery("q_p1_csv",
      (s, dir) => {
        val out = tmp("p1_csv", dir)
        t(s, dir, "part").coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
        Readers.csv(s, out, headers = true)
          .select(col("p_partkey").cast("long").as("p_partkey"), col("p_name"), col("p_brand"),
            col("p_type"), col("p_size").cast("int").as("p_size"),
            col("p_retailprice").cast("double").as("p_retailprice"))
          .orderBy("p_partkey")
      },
      """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
         FROM part ORDER BY p_partkey"""),

    GatedQuery("q_p4_xml",
      (s, dir) => {
        val out = tmp("p4_xml", dir)
        t(s, dir, "nation").write.mode("overwrite")
          .option("rootTag", "nations").option("rowTag", "item").format("xml").save(out)
        Readers.xml(s, out, xmlNode = "item")
          .select(col("n_nationkey").cast("int").as("n_nationkey"), col("n_name"),
                  col("n_regionkey").cast("int").as("n_regionkey"))
          .orderBy("n_nationkey")
      },
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),

    // P5 semantics on a literal document (the reference parses one buffered
    // doc, job-tree-parser.js:68-71). Roundtrip with W3 is property-tested
    // in TreeOpsSpec.
    GatedQuery("q_p5_tree_flatten",
      (s, dir) => TreeOps.flattenJson(s, treeJson).orderBy("mpath"),
      // golden expected output for the literal document flattened by P5
      """SELECT * FROM (VALUES
           ('root', '',     0, 'root',       '{"id":"root","name":"All"}'),
           ('a',    'root', 1, 'root#a',     '{"id":"a","name":"A"}'),
           ('a1',   'a',    2, 'root#a#a1',  '{"id":"a1","name":"A1"}'),
           ('a2',   'a',    2, 'root#a#a2',  '{"id":"a2","name":"A2"}'),
           ('b',    'root', 1, 'root#b',     '{"id":"b","name":"B"}'),
           ('b1',   'b',    2, 'root#b#b1',  '{"id":"b1","name":"B1"}'))
         AS t(id, parent, level, mpath, payload) ORDER BY mpath"""),

    // W3 ∘ P5 roundtrip on the literal document; golden-output oracle
    GatedQuery("q_w3_tree_rebuild",
      (s, dir) => TreeOps.rebuildJson(TreeOps.flattenJson(s, treeJson)).orderBy("id"),
      """SELECT 'root' AS id,
                '{"id":"root","name":"All","children":[{"id":"a","name":"A","children":[{"id":"a1","name":"A1"},{"id":"a2","name":"A2"}]},{"id":"b","name":"B","children":[{"id":"b1","name":"B1"}]}]}' AS json"""),

    GatedQuery("q_w1_json_array",
      (s, dir) => {
        val file = tmp("w1_array", dir) + ".json"
        Writers.jsonArray(t(s, dir, "region").orderBy("r_regionkey"), file)
        Readers.json(s, file)
          .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
          .orderBy("r_regionkey")
      },
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"))

  /** The literal tree document the P5/W3 gates flatten and rebuild. */
  private val treeJson =
    """{"id":"root","name":"All","children":[
         {"id":"a","name":"A","children":[{"id":"a1","name":"A1"},{"id":"a2","name":"A2"}]},
         {"id":"b","name":"B","children":[{"id":"b1","name":"B1"}]}]}"""

  /** In-process NDJSON page server backing the DSv2 gate: pages 0–4 serve
    * 100 deterministic records each (`{"id":p*100+j,"grp":id%7}`), pages
    * beyond that an empty body — content the oracle recomputes with
    * `range()`. Started lazily once per JVM and left running for the
    * process lifetime (gate harnesses are short-lived); in `local` mode
    * the executor-side `PartitionReader`s reach it over loopback.
    */
  private lazy val pagedV2Url: String = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/pages", (ex: com.sun.net.httpserver.HttpExchange) => {
      val page = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
        .collectFirst { case kv if kv.startsWith("page=") => kv.drop(5).toInt }
        .getOrElse(0)
      val body =
        if (page >= 5) ""
        else (0 until 100).map { j =>
          val id = page * 100 + j
          s"""{"id":$id,"grp":${id % 7}}"""
        }.mkString("\n")
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    s"http://127.0.0.1:${server.getAddress.getPort}/pages?page={%page%}"
  }
}
