package graft.query

/** A reader's posting store: a thread-safe LRU of what the served shapes
  * read on the driver — the posting-list cache of Baeza-Yates et al.,
  * "The Impact of Caching on Search Engines" (SIGIR 2007). It holds four
  * kinds of entry under one capacity and one recency order:
  *  - postings, keyed by (term, with positions): the term's merged df, its
  *    posting bytes and its segment rows; a term with no rows is a df-0
  *    entry;
  *  - doc values, keyed by a docs column: `docId → value` over every
  *    generation ([[PostingStore.DocValues]]);
  *  - the merged dictionary: `term → df` summed across generations
  *    ([[PostingStore.Dictionary]]);
  *  - term vectors, keyed by docId: one doc's (term, tf) rows, terms
  *    ascending, and its length ([[PostingStore.TermVector]]).
  * It caches postings, doc values, dfs and term vectors, never results: a
  * query served from the store still runs its kernel, its count or its
  * ranking.
  *
  * Total entry bytes stay within `capacity`; inserting past it evicts the
  * least recently used entries of any kind, and an entry larger than
  * `capacity` never enters. A capacity of 0 or less stores nothing. */
private[query] final class PostingStore(val capacity: Long) {
  import PostingStore._

  // access order: iteration starts at the least recently used entry
  private val lru = new java.util.LinkedHashMap[Any, Resident](16, 0.75f, true)
  // resident bytes per kind: postings, doc values, dictionary, term vectors
  private val held = new Array[Long](4)
  private var hits = 0L
  private var misses = 0L
  private var evictions = 0L

  /** Every key's postings entry, in key order, when all are resident (a
    * hit); None otherwise (a miss). Either way the resident keys become
    * the most recently used. */
  def lookup(keys: Seq[Key]): Option[Seq[Entry]] = synchronized {
    val es = keys.map(lru.get)
    if (es.contains(null)) { misses += 1; None }
    else { hits += 1; Some(es.map(_.asInstanceOf[Entry])) }
  }

  /** Each term's merged df when every term has a postings entry under
    * either key (a hit); None otherwise (a miss). */
  def dfs(terms: Seq[String]): Option[Map[String, Long]] = synchronized {
    val found = terms.flatMap(t =>
      Option(lru.get((t, false))).orElse(Option(lru.get((t, true))))
        .map(e => t -> e.asInstanceOf[Entry].df))
    if (found.size == terms.size) { hits += 1; Some(found.toMap) }
    else { misses += 1; None }
  }

  /** The doc values of `column` (a hit), else None (a miss). */
  def docValues(column: String): Option[DocValues] =
    find(DocValuesKey(column)).map(_.asInstanceOf[DocValues])

  /** The merged dictionary (a hit), else None (a miss). */
  def dictionary: Option[Dictionary] =
    find(DictionaryKey).map(_.asInstanceOf[Dictionary])

  /** The term vector of `docId` (a hit), else None (a miss). */
  def termVector(docId: Long): Option[TermVector] =
    find(TermVectorKey(docId)).map(_.asInstanceOf[TermVector])

  private def find(key: Any): Option[Resident] = synchronized {
    val r = lru.get(key)
    if (r == null) misses += 1 else hits += 1
    Option(r)
  }

  def insert(key: Key, e: Entry): Unit = put(key, e)
  def insert(column: String, dv: DocValues): Unit = put(DocValuesKey(column), dv)
  def insert(d: Dictionary): Unit = put(DictionaryKey, d)
  def insert(docId: Long, tv: TermVector): Unit = put(TermVectorKey(docId), tv)

  /** Store `r` under `key` as the most recently used entry, evicting the
    * least recently used ones until the total fits `capacity`. */
  private def put(key: Any, r: Resident): Unit = synchronized {
    if (capacity > 0 && r.bytes <= capacity) {
      val old = lru.put(key, r)
      if (old != null) held(old.kind) -= old.bytes
      held(r.kind) += r.bytes
      // `r` is the youngest and fits alone, so it is never evicted here
      val it = lru.values.iterator
      while (held.sum > capacity) {
        val e = it.next()
        held(e.kind) -= e.bytes
        it.remove()
        evictions += 1
      }
    }
  }

  def counters: StoreCounters = synchronized {
    StoreCounters(hits, misses, evictions, held.sum, lru.size,
      held(0), held(1), held(2), held(3))
  }
}

private[query] object PostingStore {
  /** (term, whether the rows carry positions). */
  type Key = (String, Boolean)

  /** What the store holds; `kind` indexes the per-kind byte counts. */
  sealed trait Resident {
    def bytes: Long
    def kind: Int
  }

  /** One term's merged df, posting bytes and segment rows. */
  final case class Entry(df: Long, bytes: Long, rows: Array[SegmentRead])
      extends Resident { def kind: Int = 0 }

  /** One docs column over every generation: `values(i)` belongs to
    * `docIds(i)`, docIds ascending; `field` is the column's name and type.
    * `bytes` counts 8 per docId plus each value's payload. */
  final case class DocValues(docIds: Array[Long], values: Array[Any],
      field: org.apache.spark.sql.types.StructField, bytes: Long)
      extends Resident { def kind: Int = 1 }

  /** The merged dictionary: each term's df summed across generations.
    * `bytes` counts each term's UTF-8 bytes plus 8 for its df. */
  final case class Dictionary(dfs: Map[String, Long], bytes: Long)
      extends Resident { def kind: Int = 2 }

  /** One doc's term vector across generations: `tfs(i)` is the tf of
    * `terms(i)`, terms ascending; `dl` is the doc's length (0 for a docId
    * no generation holds). `bytes` counts each term's UTF-8 bytes plus 8
    * for its tf, plus 8 for `dl`. */
  final case class TermVector(terms: Array[String], tfs: Array[Long], dl: Long,
      bytes: Long) extends Resident {
    def kind: Int = 3
    /** The (term, tf) rows, terms ascending. */
    def rows: Iterator[(String, Long)] = terms.iterator.zip(tfs.iterator)
  }

  private final case class DocValuesKey(column: String)
  private case object DictionaryKey
  private final case class TermVectorKey(docId: Long)
}

/** A posting store's counters ([[IndexReader.storeCounters]]): lookups
  * that found every key (`hits`) or not (`misses`), entries evicted, the
  * bytes and entries resident now, and the resident bytes per kind
  * (postings, doc values, dictionary, term vectors), which sum to
  * `residentBytes`. */
final case class StoreCounters(hits: Long, misses: Long, evictions: Long,
    residentBytes: Long, entries: Int, postingBytes: Long,
    docValueBytes: Long, dictionaryBytes: Long, termVectorBytes: Long)
