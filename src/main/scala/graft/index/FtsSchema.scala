package graft.index

/** Row types of the on-disk index (all stored as Parquet).
  *
  * Layout under an index root directory:
  * {{{
  *   v<N>/
  *     docs/      [[DocRow]]      one row per indexed document
  *     segments/  [[SegmentBlock]] posting blocks, sorted by (field, term, first_doc)
  *     dict/      [[DictRow]]     term dictionary (df/cf per field and term)
  *     stats/     [[StatsRow]]    one row: the base document count
  *     deltas/d<k>/ docs, segments, dict and tombstones of delta
  *                generation k ([[FtsDeltas]]); a snapshot's dictionary
  *                is the base dict plus every delta dict, df and cf
  *                summed per (field, term)
  *     manifest/  [[ManifestRow]] one row per build shard (lineage + metrics)
  *   current      text file naming the live version dir (atomic swap, the
  *                reference's tmp-dir + os.rename analog:
  *                services/tantivy_index_manager.py:1037-1136)
  * }}}
  */
object FtsSchema {

  /** Engine ingest row (BASELINE.json input_hint shape). */
  final case class SourceFile(repo: String, path: String, commit: String,
                              lang: String, content: String)

  /** Indexed fields. `content` is lowercased (reference default-tokenizer
    * behavior), `content_raw` preserves case (true case-sensitive search,
    * a documented strengthening of the reference — SURVEY.md §7.3),
    * `identifiers` holds deduped code identifiers + camel/snake subtokens.
    */
  final val FieldContent = "content"
  final val FieldRaw = "content_raw"
  final val FieldIdent = "identifiers"

  final case class DocRow(doc_id: Long, shard: Int, repo: String,
                          path: String, commit: String, lang: String,
                          sha256: String, ids: Seq[String], content: String)

  /** One posting block: up to the builder's blockSize postings of a single
    * (field, term) run, delta-gap + varint encoded:
    *   - doc_bytes: docIds, delta-gap varints (strictly ascending)
    *   - tf_bytes:  term frequencies, plain varints
    *   - dl_bytes:  per-posting field length (stored inline so scoring
    *     needs no join against a norms table — O(1 byte) per posting)
    *   - pos_bytes: per-posting token-position lists (delta varints, tf_i
    *     values each), concatenated — phrase queries decode these
    *   - max_tf / min_dl: block-max metadata; idf * bm25(max_tf, min_dl)
    *     upper-bounds any score in the block (block-max WAND pruning)
    */
  final case class SegmentBlock(shard: Int, field: String, term: String,
                                first_doc: Long, last_doc: Long, n: Int,
                                sum_tf: Long,
                                doc_bytes: Array[Byte], tf_bytes: Array[Byte],
                                dl_bytes: Array[Byte], pos_bytes: Array[Byte],
                                max_tf: Long, min_dl: Long,
                                /** total encoded bytes of the four blob
                                  * columns — manifest metrics aggregate
                                  * this small column instead of re-reading
                                  * the blobs. */
                                n_bytes: Long)

  final case class DictRow(field: String, term: String, df: Long, cf: Long)

  /** avgdl is not stored: a snapshot derives it from the dictionary's
    * per-field cf totals and its document count. */
  final case class StatsRow(n_docs: Long)

  /** Per-shard lineage + metrics (the north rule's checkpoint unit).
    * Resume anti-joins `status = "done"` shards against the shard list. */
  final case class ManifestRow(shard: Int, status: String, n_docs: Long,
                               n_tokens: Long, n_postings: Long,
                               n_blocks: Long, bytes_docs: Long,
                               bytes_postings: Long, wall_ms: Long,
                               input_sha: String)

  /** Decoded posting used inside the query pipeline. */
  final case class Posting(field: String, term: String, doc_id: Long,
                           tf: Long, dl: Long, positions: Array[Int])
}
