package graft.functions

import org.apache.spark.sql.Column

/** Public wrappers for the native hash kernels (implementations live in
  * org.apache.spark.sql.graft — they need private[sql] Catalyst types). */
object HashFunctions {
  def minHashSig(hashes: Column, as: Array[Long], bs: Array[Long], prime: Long): Column =
    org.apache.spark.sql.graft.HashFunctions.minHashSig(hashes, as, bs, prime)
  def simHash64(hashes: Column): Column =
    org.apache.spark.sql.graft.HashFunctions.simHash64(hashes)
  def wordShingleHash(text: Column, k: Int, prime: Long): Column =
    org.apache.spark.sql.graft.HashFunctions.wordShingleHash(text, k, prime)
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.graft.HashFunctions.lshBandKeys(sig, bands, rowsPerBand)
}
