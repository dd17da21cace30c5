package graft.crypto

import java.security.{InvalidKeyException, SecureRandom}
import javax.crypto.Cipher
import javax.crypto.spec.{GCMParameterSpec, SecretKeySpec}

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** graft's one AES-GCM kernel: the per-value data path (via the
  * [[AesGcmEncrypt]] / [[AesGcmDecrypt]] expressions) and the
  * driver-side key wrapping and manifest encryption share it.
  *
  * Every value becomes `[12B IV][ciphertext][16B tag]` — the layout the
  * reference writer emits (its parquet_writer.cpp:137-170) and the one
  * Spark's `aes_encrypt(…, 'GCM')` produces, so either side
  * opens the other's ciphertext. Each value gets a fresh random 96-bit
  * IV and a 128-bit tag.
  *
  * The cost that matters at lake scale is per value, not per byte: a
  * `Cipher.getInstance` + key setup per value costs several times the
  * GCM work on a short field. So each thread keeps ONE `Cipher` and ONE
  * `SecureRandom` and re-inits the cipher per value (a fresh IV each
  * time); the key spec is rebuilt only when the key bytes change.
  * Thread-local state is what makes this safe under both codegen and
  * interpreted evaluation, where one expression instance can serve
  * several task threads.
  */
object AesGcm {
  val IvLen = 12
  val TagLen = 16
  private val TagBits = TagLen * 8

  private final class State {
    val cipher: Cipher = Cipher.getInstance("AES/GCM/NoPadding")
    val rng = new SecureRandom()
    private var lastKey: Array[Byte] = Array.emptyByteArray
    private var lastSpec: SecretKeySpec = _

    def keySpec(key: Array[Byte]): SecretKeySpec = {
      if (lastSpec == null || !java.util.Arrays.equals(key, lastKey)) {
        val n = key.length
        if (n != 16 && n != 24 && n != 32)
          throw new InvalidKeyException(s"AES key must be 16, 24 or 32 bytes, got $n")
        lastSpec = new SecretKeySpec(key, "AES")
        lastKey = key.clone()
      }
      lastSpec
    }
  }
  private val state = ThreadLocal.withInitial[State](() => new State)

  def encrypt(key: Array[Byte], plaintext: Array[Byte],
      aad: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val st = state.get()
    val out = new Array[Byte](IvLen + plaintext.length + TagLen)
    val iv = new Array[Byte](IvLen)
    st.rng.nextBytes(iv)
    System.arraycopy(iv, 0, out, 0, IvLen)
    st.cipher.init(Cipher.ENCRYPT_MODE, st.keySpec(key),
      new GCMParameterSpec(TagBits, out, 0, IvLen))
    if (aad.nonEmpty) st.cipher.updateAAD(aad)
    st.cipher.doFinal(plaintext, 0, plaintext.length, out, IvLen)
    out
  }

  /** Opens a blob; throws a `GeneralSecurityException` on a wrong key,
    * wrong AAD or any flipped IV, ciphertext or tag byte. */
  def decrypt(key: Array[Byte], blob: Array[Byte],
      aad: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    if (blob.length < IvLen + TagLen)
      throw new javax.crypto.AEADBadTagException(
        s"AES-GCM blob of ${blob.length} bytes is shorter than IV + tag")
    val st = state.get()
    st.cipher.init(Cipher.DECRYPT_MODE, st.keySpec(key),
      new GCMParameterSpec(TagBits, blob, 0, IvLen))
    if (aad.nonEmpty) st.cipher.updateAAD(aad)
    st.cipher.doFinal(blob, IvLen, blob.length - IvLen)
  }

  /** NULL instead of an error: the try-decrypt data path. */
  def tryDecrypt(key: Array[Byte], blob: Array[Byte], aad: Array[Byte]): Array[Byte] =
    try decrypt(key, blob, aad) catch { case NonFatal(_) => null }
}

/** `graft_aes_gcm_encrypt(value, key, aad)`: BINARY ciphertext of a
  * BINARY (or implicitly cast STRING) value; NULL in, NULL out. The key
  * is an ordinary child — a redacted [[KeyHandle]] for per-column keys,
  * a join column for per-row keys — so no key bytes enter plan strings
  * beyond what the child itself renders. */
final case class AesGcmEncrypt(input: Expression, key: Expression, aad: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def first: Expression = input
  override def second: Expression = key
  override def third: Expression = aad
  override def dataType: DataType = BinaryType
  override def inputTypes: Seq[BinaryType] = Seq(BinaryType, BinaryType, BinaryType)
  override def nullIntolerant: Boolean = true
  // a fresh IV per row: never fold to one ciphertext, even on literals
  override def foldable: Boolean = false
  override def prettyName: String = "graft_aes_gcm_encrypt"

  override protected def nullSafeEval(v: Any, k: Any, a: Any): Any =
    AesGcm.encrypt(k.asInstanceOf[Array[Byte]], v.asInstanceOf[Array[Byte]],
      a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = AesGcm.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, (v, k, a) => s"$kernel.encrypt($k, $v, $a)")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): AesGcmEncrypt =
    copy(input = newFirst, key = newSecond, aad = newThird)
}

/** `graft_aes_gcm_decrypt(blob, key, aad)`: the plaintext BINARY. With
  * `failOnError` a wrong key, wrong AAD or tampered byte fails the
  * task; without it (`graft_try_aes_gcm_decrypt`) such a value reads as
  * NULL — the audit-scan mode. */
final case class AesGcmDecrypt(input: Expression, key: Expression, aad: Expression,
    failOnError: Boolean) extends TernaryExpression with ImplicitCastInputTypes {
  override def first: Expression = input
  override def second: Expression = key
  override def third: Expression = aad
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = !failOnError || super.nullable
  override def inputTypes: Seq[BinaryType] = Seq(BinaryType, BinaryType, BinaryType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String =
    if (failOnError) "graft_aes_gcm_decrypt" else "graft_try_aes_gcm_decrypt"

  override protected def nullSafeEval(v: Any, k: Any, a: Any): Any = {
    val (kb, vb, ab) = (k.asInstanceOf[Array[Byte]], v.asInstanceOf[Array[Byte]],
      a.asInstanceOf[Array[Byte]])
    if (failOnError) AesGcm.decrypt(kb, vb, ab) else AesGcm.tryDecrypt(kb, vb, ab)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = AesGcm.getClass.getName.stripSuffix("$")
    if (failOnError) defineCodeGen(ctx, ev, (v, k, a) => s"$kernel.decrypt($k, $v, $a)")
    else nullSafeCodeGen(ctx, ev, (v, k, a) =>
      s"""${ev.value} = $kernel.tryDecrypt($k, $v, $a);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): AesGcmDecrypt =
    copy(input = newFirst, key = newSecond, aad = newThird)
}
