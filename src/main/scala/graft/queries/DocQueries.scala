package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sources.DocExtract

/** Document-extraction surface (SURVEY §2.1 sources; the reference's
  * planned extraction path `etl_implementation.md:155-175, 262-273`)
  * driven through the DuckDB gate on REAL bytes: the documents corpus is
  * re-encoded to binary, extracted by the zero-egress
  * [[DocExtract.PlainTextExtractor]], and lands as Source nodes with
  * per-chunk DERIVED_FROM provenance edges — the extraction → node →
  * edge flow checked end-to-end against SQL oracles.
  *
  * Scale notes: extraction is `mapPartitions` with per-partition
  * extractor init, no shuffle; edges are projection + index-range
  * explode (the chunk list itself never moves); at 100 TB the binary
  * payload is dropped immediately after extraction so only text-sized
  * rows reach any wide operator.
  */
object DocQueries extends QueryPack {

  /** The documents table as raw extraction input: real UTF-8 bytes. */
  private def rawDocs(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"),
        lit("txt").as("source_type"),
        concat(lit("doc_"), col("doc_id")).as("name"),
        encode(col("text"), "UTF-8").as("content"))
      .as[DocExtract.RawDoc]
  }

  /** Extracted documents as Source nodes, by doc_id — the one output
    * shape of q80, q83, q84 and q101. */
  private def sourceNodes(extracted: Dataset[DocExtract.Extracted]): DataFrame =
    extracted.toDF()
      .select(col("doc_id"), col("name"),
        graft.core.Uid.uid(col("name")).as("uid"),
        col("source_type").as("type"),
        col("title"),
        length(col("text")).cast("long").as("text_len"),
        col("n_chunks"),
        col("provenance"))
      .orderBy("doc_id")

  /** q80 — extraction → Source-node projection: decode + normalize +
    * paragraph-packed chunking on real bytes, engine-wide uid scheme,
    * non-stub provenance. */
  def q80DocExtract(s: SparkSession, dir: String): DataFrame =
    sourceNodes(DocExtract.extractAll(rawDocs(s, dir)))

  /** q81 — per-chunk DERIVED_FROM provenance edges for the extracted
    * corpus, joinable to q80's Source uids. */
  def q81DerivedEdges(s: SparkSession, dir: String): DataFrame =
    DocExtract.toDerivedFromEdges(DocExtract.extractAll(rawDocs(s, dir)))
      .select("chunk_uid", "rel_type", "src_uid", "name", "chunk_idx")
      .orderBy("name", "chunk_idx")

  /** The documents corpus re-packaged as REAL files of type `tag`, named
    * `<tag>_<doc_id>`, whose bytes `file(doc_id, text)` writes per row.
    * Packaging runs in the same task that will extract — the bytes never
    * shuffle, exactly like the binary-source path. */
  private def rawFiles(s: SparkSession, dir: String, tag: String)(
      file: (Long, String) => Array[Byte]): Dataset[DocExtract.RawDoc] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => DocExtract.RawDoc(id, tag, s"${tag}_$id", file(id, text)) }
  }

  /** q83 — the real DOCX extractor end-to-end: corpus text → OOXML
    * package (one plain paragraph, the zero-egress OOXML writer) →
    * bounded unzip + StAX paragraph extraction → Source-node
    * projection. The round trip pins the writer AND the extractor to
    * the oracle's laws (trimmed text round-trips byte-exactly through
    * XML escaping, ceil(len/500) chunking, 120-char title); heading
    * styles and multi-run/tab/break bodies are pinned by
    * DocExtractSpec fixtures instead (not SQL-expressible from the
    * corpus). */
  def q83DocxExtract(s: SparkSession, dir: String): DataFrame =
    sourceNodes(DocExtract.extractAll(
      rawFiles(s, dir, "docx")((_, text) => DocExtract.docxBytes(text)),
      () => new DocExtract.DocxExtractor()))

  /** q84 — the real PDF extractor end-to-end: corpus text → single-page
    * PDF bytes (Flate-compressed content stream + proper xref, the
    * zero-egress [[graft.sources.Pdf]] writer) → object scan → page
    * walk → inflate → text-operator replay → Source-node projection.
    * The round trip pins writer and parser to the oracle's laws (PDF
    * string escaping is lossless, ceil(len/500) chunking, 120-char
    * title). Multi-page, multi-paragraph, TJ-kerning, hex-string,
    * ObjStm and /Info /Title behavior is pinned by PdfSpec fixtures
    * (not SQL-expressible). */
  def q84PdfExtract(s: SparkSession, dir: String): DataFrame =
    sourceNodes(DocExtract.extractAll(
      rawFiles(s, dir, "pdf")((_, text) => graft.sources.Pdf.pdfBytes(text)),
      () => new DocExtract.PdfExtractor()))

  /** q101 — the real HTML extractor end-to-end: corpus text → full web
    * page (head + nav/header/footer chrome, entities, a script the
    * tokenizer must not leak; [[graft.sources.Html.pageBytes]]) →
    * tag-tokenizer extraction → Source-node projection. The round trip
    * pins the writer AND the extractor to the oracle's laws
    * (escape/decode is lossless, the boilerplate chrome contributes
    * nothing, the `<title>` tag wins, ceil(len/500) chunking). Nested
    * skip subtrees, numeric character references, quoted-'>'
    * attributes, br/block behavior and CDATA are pinned by HtmlSpec
    * fixtures (not SQL-expressible). */
  def q101HtmlExtract(s: SparkSession, dir: String): DataFrame =
    sourceNodes(DocExtract.extractAll(
      rawFiles(s, dir, "html")((id, text) => graft.sources.Html.pageBytes(s"Doc $id", text)),
      () => new DocExtract.HtmlExtractor()))

  /** q85 — the RAG chunk TABLE: the reference's extraction → chunk →
    * embedding flow (`README.md:122-127`, `etl_implementation.md:
    * 262-273`) materialized as one declarative plan. Chunks are an
    * index-range explode + substring projection (no shuffle — the
    * chunk list never exists off-plan), each chunk gets the engine uid
    * and a token count, and the document-level embedding joins by id
    * (co-partitionable equi-join; at 100 TB both sides bucket on
    * doc_id). Norms ride the sequential double fold the e-family
    * pins engine-exact against DuckDB's list_sum. */
  def q85RagChunks(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), trim(col("text")).as("t"))
      .filter(length(col("t")) > 0)
    val chunks = docs
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0L),
          ceil(length(col("t")) / lit(500.0)).cast("long") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        graft.core.Uid.uid(concat(lit("doc_"), col("doc_id"), lit("#"),
          col("chunk_idx"))).as("chunk_uid"),
        col("t").substr((col("chunk_idx") * 500 + 1).cast("int"), lit(500)).as("chunk"))
    val norm = round(sqrt(expr(
      "aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")), 6)
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(col("doc_id"), norm.as("emb_norm"))
    chunks.join(emb, "doc_id")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_uid"),
        length(col("chunk")).cast("long").as("chunk_len"),
        size(split(trim(col("chunk")), "\\s+")).as("n_tokens"),
        col("emb_norm"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** q89 — deterministic entity extraction behind the reference's NER
    * seam (`etl_implementation.md:271` plans "Entity normalization /
    * Named entity recognition" as an LLM task): the rule-based default
    * any pipeline runs before (or instead of) a model — capitalized
    * token runs extracted per document, normalized, rolled up to the
    * Entity node table with engine uids and mention stats. The LLM
    * stays a pluggable seam; the PLUMBING (extract → normalize →
    * entity nodes with MENTIONS counts) is real and gated. The corpus
    * is lowercase word soup, so doc_id classes stage entity-bearing
    * sentences (d33's replay pattern) with names varying by id.
    *
    * Scale: one regexp_extract_all + explode (in-row generator), one
    * hash aggregate on entity — no joins, no windows; at 100 TB this
    * is the same shape as word counting. */
  def q89EntityExtract(s: SparkSession, dir: String): DataFrame = {
    val site = element_at(array(lit("Nord"), lit("Sued"), lit("Ost"), lit("West")),
      (col("doc_id") % 4 + 1).cast("int"))
    val perturbed = concat(col("text"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" Der Wertstoffhof "), site, lit(" liegt am Stadtrand."))).otherwise(""),
      when(col("doc_id") % 7 === 0,
        concat(lit(" Anlieferung bei Deponie "), site, lit(" moeglich."))).otherwise(""),
      when(col("doc_id") % 11 === 0, " Kontakt via Amt Mitte.").otherwise(""))
    Tables.documents(s, dir)
      .select(col("doc_id"), perturbed.as("t"))
      .select(col("doc_id"), explode(expr(
        """regexp_extract_all(t, '[A-Z][a-z]+(?: [A-Z][a-z]+)*', 0)""")).as("entity"))
      .groupBy("entity")
      .agg(count(lit(1)).as("n_mentions"),
        countDistinct(col("doc_id")).as("n_docs"))
      .select(col("entity"),
        graft.core.Uid.uid(concat(lit("Entity:"), col("entity"))).as("entity_uid"),
        col("n_mentions"), col("n_docs"))
      .orderBy(desc("n_mentions"), asc("entity"))
  }

  /** q110 — structured rule/condition extraction behind the llm slot
    * (the reference's actual LLM plan: "Rule extraction, condition
    * parsing" from bylaw prose, `etl_implementation.md:262-273`,
    * into `schema.cql`'s DisposalRule/Condition layer). Deterministic
    * end-to-end: [[graft.sources.RuleExtract.fixtureDocs]] renders one
    * bylaw-style document per part row (surface form, stream and
    * condition all picked by the part key; negation + hint distractors
    * included), [[graft.sources.RuleExtract.candidates]] parses the
    * prose back with the anchored pattern grammar — sentence explode +
    * regexp_extract, all codegen, no UDF — and the oracle regenerates
    * the expected (item, condition, branch, stream, uid) rows from the
    * same keys in SQL. Conditional sentences emit BOTH branches
    * (IF_TRUE/IF_FALSE, the reference's decision-tree edges). */
  def q110RuleExtract(s: SparkSession, dir: String): DataFrame =
    graft.sources.RuleExtract.candidates(
      graft.sources.RuleExtract.fixtureDocs(
        Tables.part(s, dir).select(col("p_partkey"), col("p_name"))))
      .orderBy("name", "branch", "stream")

  /** q113 — the PLUGGABLE model codec behind the llm slot
    * ([[graft.sources.ModelCodec]], r7 verdict task 4): the same
    * fixture corpus as q110 run through the external-extractor
    * contract a production LLM client would implement — per-partition
    * codec instances, iterator-grouped batches (maxBatch 4 here, so
    * batching is actually exercised), bounded retry, accumulator cost
    * accounting — with the deterministic grammar fake in the model
    * seat. Emits the exact q110 candidate frame (shared rule_uid
    * expression), so the gate proves grammar path and model path are
    * config-swappable without drift. */
  def q113ModelCodec(s: SparkSession, dir: String): DataFrame =
    graft.sources.ModelCodec.candidates(
      graft.sources.RuleExtract.fixtureDocs(
        Tables.part(s, dir).select(col("p_partkey"), col("p_name"))),
      () => new graft.sources.ModelCodec.GrammarCodec(),
      graft.sources.ModelCodec.Config(maxBatch = 4))
      .orderBy("name", "branch", "stream")

  val queries: Map[String, QueryFn] = Map(
    "q113_model_codec"  -> (q113ModelCodec _),
    "q110_rule_extract" -> (q110RuleExtract _),
    "q89_entity_extract" -> (q89EntityExtract _),
    "q101_html_extract" -> (q101HtmlExtract _),
    "q93_llm_extract"   -> (q93LlmExtract _),
    "q85_rag_chunks"    -> (q85RagChunks _),
    "q80_doc_extract"   -> (q80DocExtract _),
    "q81_derived_edges" -> (q81DerivedEdges _),
    "q83_docx_extract"  -> (q83DocxExtract _),
    "q84_pdf_extract"   -> (q84PdfExtract _))

  /** The corpus is single-paragraph (no newlines — TESTDATA.md), so the
    * extractor's normalize is trim, the title is the capped first line,
    * and greedy packing of one paragraph is exactly ceil(len/500)
    * chunks; the SQL states those laws directly. Multi-paragraph and
    * markdown behavior is pinned by DocExtractSpec fixtures instead. */
  /** q93 — the reference's `llm` extraction slot made real
    * ([[DocExtract.LuhnExtractor]]): extractive summarization over the
    * corpus routed through the same Extractor seam as txt/docx/pdf —
    * per doc, the chosen-sentence count, the Luhn provenance string,
    * the 120-char title (top sentence) and the md5 of the re-assembled
    * extract, all gated byte-exactly against an oracle that replays
    * sentence split, document-frequency scoring, and top-3 selection
    * in SQL. The abstractive-model swap is one `mk` closure; the
    * plumbing under gate here is what that client would ride. */
  def q93LlmExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = Tables.documents(s, dir)
      .select(col("doc_id"), lit("llm").as("source_type"),
        concat(lit("llm_"), col("doc_id")).as("name"),
        encode(col("text"), "UTF-8").as("content"))
      .as[DocExtract.RawDoc]
    DocExtract.extractAll(raw, () => new DocExtract.LuhnExtractor()).toDF()
      .select(col("doc_id"), col("name"), col("title"),
        col("n_chunks").cast("long").as("n_extracted"), col("provenance"),
        md5(col("text")).as("summary_hash"))
      .orderBy("doc_id")
  }

  /** The expected q110/q113 candidate rows regenerated from the
    * fixture keys in SQL — both the grammar path and the model-codec
    * path must hash-match it. */
  private[queries] val ruleCandidateSql: String =
    """WITH p AS (
        |  SELECT p_partkey AS k, p_name AS item,
        |    ['Restmüll','Biomüll','Sondermüll','Papierkorb','Wertstoffhof'] AS ss,
        |    ['flüssig','getrocknet','leer','verschlossen'] AS cc
        |  FROM part),
        |b AS (
        |  SELECT 'satzung_' || k AS name, CAST(1 AS INT) AS sent_idx, item,
        |    CASE WHEN k % 3 = 0 THEN cc[CAST(k % 4 AS INT) + 1] END AS condition,
        |    k, ss
        |  FROM p),
        |rws AS (
        |  SELECT name, sent_idx, item, condition, 'if_true' AS branch,
        |    ss[CAST(k % 5 AS INT) + 1] AS stream FROM b WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT name, sent_idx, item, condition, 'if_false',
        |    ss[CAST((k + 2) % 5 AS INT) + 1] FROM b WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT name, sent_idx, item, NULL, NULL,
        |    ss[CAST(k % 5 AS INT) + 1] FROM b WHERE k % 3 <> 0)
        |SELECT name, sent_idx, item, condition, branch, stream,
        |  substr(sha256(name || '|' || item || '|' || coalesce(condition, '')
        |    || '|' || coalesce(branch, '') || '|' || stream), 1, 16) AS rule_uid
        |FROM rws ORDER BY name, branch, stream""".stripMargin

  val oracles: Map[String, String] = Map(
    // q113: the model-codec path must reproduce the grammar path's
    // rows EXACTLY — one oracle serves both gates.
    "q113_model_codec" -> ruleCandidateSql,
    // q110: the oracle REGENERATES the expected candidates from the
    // same part keys the fixture renderer used (form k%3, stream k%5,
    // alt (k+2)%5, condition k%4) — the engine must parse the prose
    // back to exactly these rows; distractor sentences contribute none.
    "q110_rule_extract" -> ruleCandidateSql,
    // q93: identical sentence split (RE2-safe pattern), identical
    // length>=4 document-frequency scoring, identical rounded-ratio
    // top-3, summary re-assembled in position order and md5'd.
    "q93_llm_extract" ->
      """WITH sp AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '[.!?]+\s+|[.!?]+$')
        |      AS arr
        |  FROM documents),
        |sent AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
        |      AS INT) AS idx,
        |    s FROM (
        |    SELECT doc_id, CAST(i AS INT) AS i, trim(arr[CAST(i AS INT)]) AS s
        |    FROM sp, unnest(range(1, len(arr) + 1)) t(i))
        |  WHERE s <> ''),
        |tok AS (
        |  SELECT doc_id, idx, w FROM (
        |    SELECT doc_id, idx,
        |      unnest(string_split_regex(s, '\s+')) AS w FROM sent)
        |  WHERE w <> ''),
        |df AS (
        |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS f
        |  FROM tok WHERE length(w) >= 4 GROUP BY doc_id, w),
        |sc AS (
        |  SELECT t.doc_id, t.idx,
        |    round(coalesce(sum(CASE WHEN length(t.w) >= 4 THEN df.f END), 0)
        |      / count(*)::DOUBLE, 6) AS score
        |  FROM tok t LEFT JOIN df ON df.doc_id = t.doc_id AND df.w = t.w
        |  GROUP BY t.doc_id, t.idx),
        |chosen AS (
        |  SELECT doc_id, idx FROM (
        |    SELECT doc_id, idx, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, idx) AS rk FROM sc)
        |  WHERE rk <= 3),
        |agg AS (
        |  SELECT c.doc_id,
        |    string_agg(s.s, ' ' ORDER BY c.idx) AS summary,
        |    CAST(count(*) AS BIGINT) AS n_extracted,
        |    min(c.idx) AS first_idx
        |  FROM chosen c JOIN sent s ON s.doc_id = c.doc_id AND s.idx = c.idx
        |  GROUP BY c.doc_id),
        |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sents
        |  FROM sent GROUP BY doc_id)
        |SELECT d.doc_id, 'llm_' || d.doc_id AS name,
        |  substr(coalesce(ts.s, ''), 1, 120) AS title,
        |  coalesce(a.n_extracted, 0) AS n_extracted,
        |  'luhn:k=3:' || coalesce(ns.n_sents, 0) || 's' AS provenance,
        |  md5(coalesce(a.summary, '')) AS summary_hash
        |FROM documents d
        |LEFT JOIN agg a USING (doc_id)
        |LEFT JOIN ns USING (doc_id)
        |LEFT JOIN sent ts ON ts.doc_id = d.doc_id AND ts.idx = a.first_idx
        |ORDER BY d.doc_id""".stripMargin,
    // q89: same staged sentences, same capitalized-run regex (Java and
    // RE2 agree on this pattern), same Entity: uid law.
    "q89_entity_extract" ->
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' Der Wertstoffhof ' ||
        |      ['Nord','Sued','Ost','West'][CAST(doc_id % 4 + 1 AS INT)] ||
        |      ' liegt am Stadtrand.' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' Anlieferung bei Deponie ' ||
        |      ['Nord','Sued','Ost','West'][CAST(doc_id % 4 + 1 AS INT)] ||
        |      ' moeglich.' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' Kontakt via Amt Mitte.'
        |      ELSE '' END AS t
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, unnest(regexp_extract_all(t,
        |    '[A-Z][a-z]+(?: [A-Z][a-z]+)*')) AS entity
        |  FROM p)
        |SELECT entity, substr(sha256('Entity:' || entity), 1, 16) AS entity_uid,
        |  CAST(count(*) AS BIGINT) AS n_mentions,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM e GROUP BY entity
        |ORDER BY n_mentions DESC, entity""".stripMargin,
    "q80_doc_extract" ->
      """SELECT doc_id, 'doc_' || doc_id AS name,
        | substr(sha256('doc_' || doc_id), 1, 16) AS uid,
        | 'txt' AS type,
        | substr(trim(text), 1, 120) AS title,
        | length(trim(text)) AS text_len,
        | CAST(ceil(length(trim(text)) / 500.0) AS INT) AS n_chunks,
        | 'text:1p' AS provenance
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q81_derived_edges" ->
      """SELECT substr(sha256(name || '#' || i), 1, 16) AS chunk_uid,
        | 'DERIVED_FROM' AS rel_type,
        | substr(sha256(name), 1, 16) AS src_uid,
        | name, i AS chunk_idx
        |FROM (
        | SELECT 'doc_' || doc_id AS name,
        |  unnest(range(0, CAST(ceil(length(trim(text)) / 500.0) AS BIGINT))) AS i
        | FROM documents)
        |ORDER BY name, chunk_idx""".stripMargin,
    "q83_docx_extract" ->
      """SELECT doc_id, 'docx_' || doc_id AS name,
        | substr(sha256('docx_' || doc_id), 1, 16) AS uid,
        | 'docx' AS type,
        | substr(trim(text), 1, 120) AS title,
        | length(trim(text)) AS text_len,
        | CAST(ceil(length(trim(text)) / 500.0) AS INT) AS n_chunks,
        | 'docx:1p' AS provenance
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q101: the <title> tag wins over the first body line; the chrome
    // (nav/header/footer/script/style) contributes nothing; body text
    // round-trips escape/decode byte-exactly.
    "q101_html_extract" ->
      """SELECT doc_id, 'html_' || doc_id AS name,
        | substr(sha256('html_' || doc_id), 1, 16) AS uid,
        | 'html' AS type,
        | substr('Doc ' || doc_id, 1, 120) AS title,
        | length(trim(text)) AS text_len,
        | CAST(ceil(length(trim(text)) / 500.0) AS INT) AS n_chunks,
        | 'html:1p' AS provenance
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q84_pdf_extract" ->
      """SELECT doc_id, 'pdf_' || doc_id AS name,
        | substr(sha256('pdf_' || doc_id), 1, 16) AS uid,
        | 'pdf' AS type,
        | substr(trim(text), 1, 120) AS title,
        | length(trim(text)) AS text_len,
        | CAST(ceil(length(trim(text)) / 500.0) AS INT) AS n_chunks,
        | 'pdf:1pg:1p' AS provenance
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q85_rag_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, trim(text) AS t FROM documents
        |  WHERE length(trim(text)) > 0),
        |c AS (
        |  SELECT doc_id, t,
        |    unnest(range(0, CAST(ceil(length(t) / 500.0) AS BIGINT))) AS chunk_idx
        |  FROM d),
        |ch AS (
        |  SELECT doc_id, chunk_idx,
        |    substr(t, CAST(chunk_idx * 500 + 1 AS INT), 500) AS chunk
        |  FROM c),
        |e AS (
        |  SELECT vec_id AS doc_id,
        |    round(sqrt(list_sum(list_transform(range(1, 65),
        |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))), 6) AS emb_norm
        |  FROM embeddings)
        |SELECT ch.doc_id, chunk_idx,
        |  substr(sha256('doc_' || ch.doc_id || '#' || chunk_idx), 1, 16) AS chunk_uid,
        |  length(chunk) AS chunk_len,
        |  CAST(array_length(regexp_split_to_array(trim(chunk), '\s+')) AS INT) AS n_tokens,
        |  emb_norm
        |FROM ch JOIN e ON ch.doc_id = e.doc_id
        |ORDER BY ch.doc_id, chunk_idx""".stripMargin)
}
