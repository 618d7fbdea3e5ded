package graft.query

/** A reader's posting store: a thread-safe LRU of merged per-term postings,
  * keyed by (term, with positions) — the posting-list cache of Baeza-Yates
  * et al., "The Impact of Caching on Search Engines" (SIGIR 2007). An
  * entry holds the term's merged df, its posting bytes and its segment
  * rows; a term with no rows is a df-0 entry. It caches postings, never
  * results: a query served from the store still runs its kernel.
  *
  * Total entry bytes stay within `capacity`; inserting past it evicts the
  * least recently used entries, and an entry larger than `capacity` never
  * enters. A capacity of 0 or less stores nothing. */
private[query] final class PostingStore(val capacity: Long) {
  import PostingStore.{Entry, Key}

  // access order: iteration starts at the least recently used entry
  private val lru = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var held = 0L
  private var hits = 0L
  private var misses = 0L
  private var evictions = 0L

  /** Every key's entry, in key order, when all are resident (a hit); None
    * otherwise (a miss). Either way the resident keys become the most
    * recently used. */
  def lookup(keys: Seq[Key]): Option[Seq[Entry]] = synchronized {
    val es = keys.map(lru.get)
    if (es.contains(null)) { misses += 1; None } else { hits += 1; Some(es) }
  }

  /** Each term's merged df when every term has an entry under either key
    * (a hit); None otherwise (a miss). */
  def dfs(terms: Seq[String]): Option[Map[String, Long]] = synchronized {
    val found = terms.flatMap(t =>
      Option(lru.get((t, false))).orElse(Option(lru.get((t, true)))).map(t -> _.df))
    if (found.size == terms.size) { hits += 1; Some(found.toMap) }
    else { misses += 1; None }
  }

  /** Store `e` under `key` as the most recently used entry, evicting the
    * least recently used ones until the total fits `capacity`. */
  def insert(key: Key, e: Entry): Unit = synchronized {
    if (capacity > 0 && e.bytes <= capacity) {
      val old = lru.put(key, e)
      held += e.bytes - (if (old == null) 0L else old.bytes)
      // `e` is the youngest and fits alone, so it is never evicted here
      val it = lru.values.iterator
      while (held > capacity) {
        held -= it.next().bytes
        it.remove()
        evictions += 1
      }
    }
  }

  def counters: StoreCounters = synchronized {
    StoreCounters(hits, misses, evictions, held, lru.size)
  }
}

private[query] object PostingStore {
  /** (term, whether the rows carry positions). */
  type Key = (String, Boolean)

  /** One term's merged df, posting bytes and segment rows. */
  final case class Entry(df: Long, bytes: Long, rows: Array[SegmentRead])
}

/** A posting store's counters ([[IndexReader.storeCounters]]): lookups
  * that found every key (`hits`) or not (`misses`), entries evicted, and
  * the bytes and entries resident now. */
final case class StoreCounters(hits: Long, misses: Long, evictions: Long,
    residentBytes: Long, entries: Int)
