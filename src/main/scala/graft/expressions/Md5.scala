package graft.expressions

import java.security.MessageDigest

/** The per-thread MD5 digest the native kernels hash with
  * ([[DocFingerprint]] per token, [[CdcChunks]] per window).
  * `MessageDigest.getInstance` is a synchronized JCA provider lookup plus
  * an allocation, far too heavy to pay per token or per character, and a
  * digest is not thread-safe, so each task thread keeps one; `digest()`
  * resets it for the next use. */
private[graft] object Md5 {

  private val local = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  def get(): MessageDigest = local.get()
}
