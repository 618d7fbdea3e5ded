package graft.pipeline

import java.util.Base64

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Envelope encryption vs the reference encryption-plugin
  * (DefaultEncryptionEngine / EncryptionContext / the local-directory key
  * supplier) and the public FIPS-197 AES known-answer vector. */
class EncryptionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("AES kernel matches the FIPS-197 appendix C.1 vector (first ECB block)") {
    // AES-128: key 000102...0f, plaintext 00112233445566778899aabbccddeeff
    // → ciphertext 69c4e0d86a7b0430d8cdb78070b4c55a. PKCS5 appends a full
    // pad block for 16-byte input; block 1 is the raw ECB transform.
    val key = hex("000102030405060708090a0b0c0d0e0f")
    val pt = hex("00112233445566778899aabbccddeeff")
    val ct = Encryption.encryptBytes(pt, key)
    assert(ct.length == 32)
    assert(ct.take(16).map("%02x".format(_)).mkString ==
      "69c4e0d86a7b0430d8cdb78070b4c55a")
    assert(Encryption.decryptBytes(ct, key).sameElements(pt))
  }

  test("roundtrip across key rotation: each envelope decrypts under its own key") {
    val k1 = Base64.getEncoder.encodeToString(hex("000102030405060708090a0b0c0d0e0f"))
    val k2 = Base64.getEncoder.encodeToString(hex("ffeeddccbbaa99887766554433221100"))
    val df = Seq(("a", "payload one"), ("b", "payload two")).toDF("id", "text")
    val oldRows = Encryption.encryptColumn(df.filter($"id" === "a"), "text", "enc", k1)
    val newRows = Encryption.encryptColumn(df.filter($"id" === "b"), "text", "enc", k2)
    val mixed = oldRows.unionByName(newRows)
    val out = Encryption.decryptColumn(mixed, "enc", "enc_key", "plain")
      .withColumn("decoded", col("plain").cast("string"))
      .select("id", "decoded", "plain_err").orderBy("id").collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("a", "payload one", null), ("b", "payload two", null)))
  }

  test("wrong key quarantines (BadPaddingException → err column), never throws") {
    val good = Base64.getEncoder.encodeToString(hex("000102030405060708090a0b0c0d0e0f"))
    val bad = Base64.getEncoder.encodeToString(hex("00000000000000000000000000000000"))
    val enc = Encryption.encryptColumn(Seq(("a", "secret")).toDF("id", "text"),
      "text", "enc", good)
      .withColumn("enc_key", lit(bad)) // envelope lies about its key
    val out = Encryption.decryptColumn(enc, "enc", "enc_key", "plain").collect().head
    assert(out.getAs[Array[Byte]]("plain") == null)
    assert(out.getAs[String]("plain_err") == "BadPaddingException")
  }

  test("KeyProvider unwrap: envelope carries the ENCRYPTED key (KMS stand-in)") {
    val rawKey = hex("000102030405060708090a0b0c0d0e0f")
    val provider = Encryption.XorKeyProvider(0x5a)
    val wrapped = Base64.getEncoder.encodeToString(rawKey.map(b => (b ^ 0x5a).toByte))
    val enc = Encryption.encryptColumn(Seq(("a", "kms wrapped")).toDF("id", "text"),
      "text", "enc", wrapped, provider)
    // ciphertext must equal encryption under the raw key — the provider
    // unwrapped before encrypting
    val ct = enc.select("enc").as[Array[Byte]].head()
    assert(ct.sameElements(Encryption.encryptBytes(
      "kms wrapped".getBytes("UTF-8"), rawKey)))
    // and decrypt needs the same provider; identity provider quarantines
    val wrong = Encryption.decryptColumn(enc, "enc", "enc_key", "plain").collect().head
    assert(wrong.getAs[String]("plain_err") != null)
    val right = Encryption.decryptColumn(enc, "enc", "enc_key", "plain", provider)
      .withColumn("d", col("plain").cast("string")).select("d").head()
    assert(right.getString(0) == "kms wrapped")
  }

  test("the unwrap cache keeps the 5 most recently used keys") {
    val unwraps = new java.util.concurrent.atomic.AtomicInteger()
    val counting = new Encryption.KeyProvider {
      def decryptKey(k: Array[Byte]): Array[Byte] = { unwraps.incrementAndGet(); k }
    }
    val keys = (1 to 6).map(i =>
      Base64.getEncoder.encodeToString(Array.fill[Byte](16)(i.toByte)))
    for (_ <- 1 to 2; k <- keys.take(5)) Encryption.KeyCache.get(k, counting)
    assert(unwraps.get == 5)
    // a sixth key evicts the least recently used one, keys(0)
    Encryption.KeyCache.get(keys(5), counting)
    Encryption.KeyCache.get(keys(1), counting)
    assert(unwraps.get == 6)
    assert(Encryption.KeyCache.get(keys(0), counting).sameElements(Array.fill[Byte](16)(1)))
    assert(unwraps.get == 7)
  }

  test("local key directory: latest .key file wins; rotation adds a newer file") {
    val dir = TestSpark.tmpDir("graft-keys")
    Encryption.rotateDataKey(dir, "2024-01-01T00-00-00.key", "oldkey")
    Encryption.rotateDataKey(dir, "2024-06-01T00-00-00.key", "midkey")
    assert(Encryption.localDirectoryDataKey(dir) == "midkey")
    Encryption.rotateDataKey(dir, "2024-12-31T23-59-59.key", "newkey")
    assert(Encryption.localDirectoryDataKey(dir) == "newkey")
    // non-.key files ignored; empty dir fails loudly
    java.nio.file.Files.write(new java.io.File(dir, "zzz.txt").toPath, "x".getBytes)
    assert(Encryption.localDirectoryDataKey(dir) == "newkey")
    intercept[IllegalStateException] {
      Encryption.localDirectoryDataKey(TestSpark.tmpDir("graft-empty"))
    }
  }
}
