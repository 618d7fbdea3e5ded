package graft.pipeline

import java.nio.charset.StandardCharsets
import java.util.Base64

import javax.crypto.Cipher
import javax.crypto.spec.SecretKeySpec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Envelope encryption of event payloads — the reference's
  * encryption-plugin extension, Spark-shaped.
  *
  * Reference semantics
  * (`encryption-plugin/.../DefaultEncryptionEngine.java:31-58`,
  * `EncryptionContext.java:18-45`):
  *  - `encrypt(data)` fetches the current *encrypted data key* (base64)
  *    from an `EncryptedDataKeySupplier`, unwraps it through a
  *    `KeyProvider`, and AES-encrypts the payload (JDK default mode for
  *    bare "AES": ECB + PKCS5 padding); the envelope carries the
  *    ciphertext AND the encrypted data key, so a later reader can unwrap
  *    with whatever key that row was written under — key ROTATION never
  *    re-encrypts old data.
  *  - `decrypt(envelope)` unwraps the envelope's own key and decrypts.
  *  - `LocalDirectoryEncryptedDataKeySupplier.java:54-67`: the active key
  *    is the lexicographically LAST `*.key` file in the key directory;
  *    rotation (`EncryptionRotationHandler`) drops a new timestamped file.
  *  - The reference's only `KeyProvider` is KMS (`KmsKeyProvider.java`) —
  *    a network unwrap call. That call is the documented egress seam here;
  *    [[Encryption.IdentityKeyProvider]] stands in (data key stored raw,
  *    base64) exactly like the reference's unencrypted kafka path.
  *
  * Spark-first shape: encryption is a per-row byte transform with NO
  * cross-row state — one projection, zero shuffles, linear at any scale.
  * The unwrap (KMS or identity) happens ONCE per distinct key on the
  * driver, never per row; executors receive the unwrapped key bytes via
  * the closure exactly like any broadcast dimension. Decrypt failures
  * (wrong key, truncated payload) quarantine as null + `err`, never throw
  * — a poison row cannot kill a 100-TB job.
  */
object Encryption {

  /** Unwraps an encrypted data key to raw AES key bytes. The reference's
    * KMS implementation is egress-bound; identity = key stored raw. */
  trait KeyProvider extends Serializable {
    def decryptKey(encryptedKey: Array[Byte]): Array[Byte]
  }

  /** Data key is stored unencrypted (base64 of the raw AES key) — the
    * reference kafka plugin's no-KMS path. */
  object IdentityKeyProvider extends KeyProvider {
    override def decryptKey(encryptedKey: Array[Byte]): Array[Byte] = encryptedKey
  }

  /** XOR-mask provider for specs: proves the envelope carries the
    * ENCRYPTED key and the provider unwraps it (KMS stand-in). */
  final case class XorKeyProvider(mask: Byte) extends KeyProvider {
    override def decryptKey(encryptedKey: Array[Byte]): Array[Byte] =
      encryptedKey.map(b => (b ^ mask).toByte)
  }

  // --------------------------------------------------------- suppliers

  /** Latest `*.key` file (filename-descending, the reference's comparator)
    * in a key directory → its content, the active encrypted data key. */
  def localDirectoryDataKey(dir: String): String = {
    val d = new java.io.File(dir)
    val keys = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".key"))
      .sortBy(_.getName)(Ordering[String].reverse)
    if (keys.isEmpty)
      throw new IllegalStateException(s"No data key files found in $dir")
    new String(java.nio.file.Files.readAllBytes(keys.head.toPath),
      StandardCharsets.UTF_8).trim
  }

  /** Rotation: write a new key file named so it becomes the latest
    * (reference `EncryptionRotationHandler` drops timestamped files). */
  def rotateDataKey(dir: String, fileName: String, encryptedDataKey: String): Unit = {
    require(fileName.endsWith(".key"), "key file must end with .key")
    val d = new java.io.File(dir); d.mkdirs()
    java.nio.file.Files.write(new java.io.File(d, fileName).toPath,
      encryptedDataKey.getBytes(StandardCharsets.UTF_8))
  }

  // ----------------------------------------------------------- ciphers

  /** AES in the JDK's default transformation, AES/ECB/PKCS5Padding — the
    * reference engine's choice, kept for ciphertext compatibility.
    *
    * SECURITY CAVEAT: ECB has no IV and no authentication. Equal
    * plaintext blocks under one key give equal ciphertext blocks, so
    * repeated structure in the data shows through, and a ciphertext can
    * be altered or its blocks reordered without detection. Use it only
    * where the reference's wire format requires it; new data that needs
    * confidentiality or integrity wants an authenticated mode such as
    * AES/GCM with a fresh nonce per message. */
  private def cipher(mode: Int, key: Array[Byte]): Cipher = {
    val c = Cipher.getInstance("AES") // JDK default: AES/ECB/PKCS5Padding
    c.init(mode, new SecretKeySpec(key, "AES"))
    c
  }

  /** One-shot kernel encrypt (fixture/spec surface). */
  def encryptBytes(data: Array[Byte], rawKey: Array[Byte]): Array[Byte] =
    cipher(Cipher.ENCRYPT_MODE, rawKey).doFinal(data)

  def decryptBytes(data: Array[Byte], rawKey: Array[Byte]): Array[Byte] =
    cipher(Cipher.DECRYPT_MODE, rawKey).doFinal(data)

  // ------------------------------------------------------------ plans

  /** Encrypt a binary/string column under the CURRENT data key. Adds
    * `<out>` (binary ciphertext) and `<out>_key` (the base64 encrypted
    * data key riding the envelope). One projection, zero shuffles; the
    * data key unwraps once here on the driver. */
  def encryptColumn(df: DataFrame, dataCol: String, out: String,
      encryptedDataKey: String, provider: KeyProvider = IdentityKeyProvider): DataFrame = {
    val raw = provider.decryptKey(Base64.getDecoder.decode(encryptedDataKey))
    val enc = udf { (b: Array[Byte]) =>
      if (b == null) null else encryptBytes(b, raw)
    }
    val in = df.schema(dataCol).dataType match {
      case org.apache.spark.sql.types.StringType => col(dataCol).cast("binary")
      case _ => col(dataCol)
    }
    df.withColumn(out, enc(in))
      .withColumn(s"${out}_key", lit(encryptedDataKey))
  }

  /** Decrypt an envelope (ciphertext column + per-row encrypted-data-key
    * column — rows written under rotated keys coexist). Adds `<out>`
    * (binary plaintext, null on failure) and `<out>_err` (null | message).
    * Each distinct key unwraps once per executor, cached. */
  def decryptColumn(df: DataFrame, dataCol: String, keyCol: String, out: String,
      provider: KeyProvider = IdentityKeyProvider): DataFrame = {
    val dec = udf { (b: Array[Byte], k: String) =>
      if (b == null || k == null) (null: Array[Byte], "missing_data_or_key")
      else try {
        val raw = KeyCache.get(k, provider)
        (decryptBytes(b, raw), null: String)
      } catch {
        case e: Exception => (null: Array[Byte], e.getClass.getSimpleName)
      }
    }
    val tmp = s"__${out}_envelope"
    df.withColumn(tmp, dec(col(dataCol), col(keyCol)))
      .withColumn(out, col(s"$tmp._1"))
      .withColumn(s"${out}_err", col(s"$tmp._2"))
      .drop(tmp)
  }

  /** Per-JVM unwrap cache (reference caches ciphers per key,
    * `EncryptionContext.java:20-28`; here the unwrapped key bytes), bounded
    * like the reference's to [[KeyCache.MaxEntries]] keys, least recently
    * used evicted first — rotated-out keys do not accumulate. */
  private[pipeline] object KeyCache {
    val MaxEntries = 5
    private val cache =
      new java.util.LinkedHashMap[(String, KeyProvider), Array[Byte]](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, KeyProvider), Array[Byte]]): Boolean =
          size() > MaxEntries
      }
    def get(encryptedDataKey: String, provider: KeyProvider): Array[Byte] =
      cache.synchronized {
        cache.computeIfAbsent((encryptedDataKey, provider),
          { case (k, p) => p.decryptKey(Base64.getDecoder.decode(k)) })
      }
  }
}
