package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.SerializableHadoopConf

/** The serialized-bytes cache must invalidate when an EXISTING property's
  * VALUE changes, not only when the property count does — the r20
  * size()-only check would ship stale configuration to executors after a
  * caller mutates a cached Configuration (ADVICE r20). */
class SerializableConfSpec extends AnyFunSuite {

  private def roundTrip(w: SerializableHadoopConf): SerializableHadoopConf = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(w); oos.close()
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    ois.readObject().asInstanceOf[SerializableHadoopConf]
  }

  test("mutating a property VALUE after first serialization yields fresh bytes") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set("graft.test.key", "first")
    conf.set("graft.test.other", "constant")
    val w = new SerializableHadoopConf(conf)
    assert(roundTrip(w).value.get("graft.test.key") == "first") // primes cache
    conf.set("graft.test.key", "second") // same count, new value
    assert(roundTrip(w).value.get("graft.test.key") == "second")
    assert(roundTrip(w).value.get("graft.test.other") == "constant")
  }

  test("swapping two property VALUES after first serialization yields fresh bytes") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set("graft.test.a", "left")
    conf.set("graft.test.b", "right")
    val w = new SerializableHadoopConf(conf)
    assert(roundTrip(w).value.get("graft.test.a") == "left") // primes cache
    conf.set("graft.test.a", "right") // same count, same multiset of values
    conf.set("graft.test.b", "left")
    val got = roundTrip(w).value
    assert(got.get("graft.test.a") == "right" && got.get("graft.test.b") == "left")
  }

  test("add/remove still invalidates; unchanged conf reuses cached bytes") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set("k1", "v1")
    val w = new SerializableHadoopConf(conf)
    assert(roundTrip(w).value.get("k1") == "v1")
    conf.set("k2", "v2")
    val got = roundTrip(w).value
    assert(got.get("k1") == "v1" && got.get("k2") == "v2")
    conf.unset("k2")
    assert(roundTrip(w).value.get("k2") == null)
    // unchanged: two serializations agree byte-for-byte
    val b1 = { val bos = new java.io.ByteArrayOutputStream()
      val o = new java.io.ObjectOutputStream(bos); o.writeObject(w); o.close()
      bos.toByteArray.toSeq }
    val b2 = { val bos = new java.io.ByteArrayOutputStream()
      val o = new java.io.ObjectOutputStream(bos); o.writeObject(w); o.close()
      bos.toByteArray.toSeq }
    assert(b1 == b2)
  }
}
