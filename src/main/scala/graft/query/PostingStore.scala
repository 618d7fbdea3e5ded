package graft.query

/** A reader's posting store: a thread-safe LRU of what the served shapes
  * read on the driver — the posting-list cache of Baeza-Yates et al.,
  * "The Impact of Caching on Search Engines" (SIGIR 2007). It holds three
  * kinds of entry under one capacity and one recency order:
  *  - postings, keyed by (term, with positions): the term's merged df, its
  *    posting bytes and its segment rows; a term with no rows is a df-0
  *    entry;
  *  - doc values, keyed by a docs column: `docId → value` over every
  *    generation ([[PostingStore.DocValues]]);
  *  - term vectors, keyed by docId: one doc's (term, tf, df) rows, terms
  *    ascending, dfs summed across generations, and its length
  *    ([[PostingStore.TermVector]]).
  * It caches postings, doc values and term vectors, never results: a
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
  // resident bytes per kind: postings, doc values, term vectors
  private val held = new Array[Long](3)
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

  /** The doc values of `column` (a hit), else None (a miss). */
  def docValues(column: String): Option[DocValues] =
    find(DocValuesKey(column)).map(_.asInstanceOf[DocValues])

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
      held(0), held(1), held(2))
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

  /** One doc's term vector across generations: its (term, tf, df) rows,
    * terms ascending, each df summed across generations; `dl` is the doc's
    * length (0 for a docId no generation holds). `bytes` counts each
    * term's UTF-8 bytes plus 8 each for its tf and df, plus 8 for `dl`. */
  final case class TermVector(rows: Array[(String, Long, Long)], dl: Long,
      bytes: Long) extends Resident { def kind: Int = 2 }

  private final case class DocValuesKey(column: String)
  private final case class TermVectorKey(docId: Long)
}

/** A posting store's counters ([[IndexReader.storeCounters]]): lookups
  * that found every key (`hits`) or not (`misses`), entries evicted, the
  * bytes and entries resident now, and the resident bytes per kind
  * (postings, doc values, term vectors), which sum to `residentBytes`. */
final case class StoreCounters(hits: Long, misses: Long, evictions: Long,
    residentBytes: Long, entries: Int, postingBytes: Long,
    docValueBytes: Long, termVectorBytes: Long)
