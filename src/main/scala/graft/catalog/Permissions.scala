package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's access-control predicates (O19-O22,
  * main.py:531-548, 778-802), vectorized as DataFrame operations.
  *
  * Reference shapes → distributed forms:
  *  - O19 point lookup `tenants/{uid}/folders/{fid}` → an equality
  *    filter on the folders catalog;
  *  - O21 nested-loop scan over ALL tenants probing for folder_id
  *    (main.py:784-791, O(tenants) RPCs with early exit) → inverted
  *    into one filtered scan;
  *  - O20 point check ([[canAccess]]) → two pruned lookups in the
  *    reference's order (main.py:539-545), no union, join or
  *    dedup: on in-memory metadata both fold to local scans and
  *    launch ZERO Spark jobs; on file-backed metadata they are
  *    filter-pushdown scans;
  *  - O20/O22 permission predicate — faithfully the reference's:
  *    `uid == owner ∨ uid ∈ shared_with ∨ ∃ share-doc(folder, owner)`
  *    (main.py:539-545, 798-801). NOTE the third arm: the reference
  *    grants when ANY share doc exists for the (folder, owner) pair —
  *    it does NOT check who the share was issued to (the per-principal
  *    check exists only on the upload path, see
  *    [[graft.streaming.UploadAdmission]]). That loose gate is
  *    reproduced as-is, and called out here because it is surprising.
  *
  * Expected schemas (mirroring the Firestore docs):
  *   folders: owner_uid, folder_id, shared_with array<string> of UIDs
  *            (main.py:540 checks `uid in shared_with`), ...
  *   shares:  owner_id, folder_id, email   (flat collection keyed
  *            {owner}_{folder}_{email}, main.py:618-626; the email is
  *            NOT consulted by this gate)
  *
  * Scale: folders/shares are metadata tables (bounded by tenants, not
  * data volume) — broadcast-joinable at any data SF.
  */
object Permissions {

  /** O19/O21: resolve a folder id to its owning doc. With a `uid`, the
    * reference's fallback scan semantics (main.py:784-791): only a
    * folder the REQUESTER owns or is shared on resolves. Deterministic
    * first-match by owner_uid order (Firestore iteration order is
    * unspecified; an order makes duplicate folder_ids reproducible). */
  def resolveFolder(folders: DataFrame, folderId: String,
                    uid: Option[String] = None): DataFrame = {
    val base = folders.filter(col("folder_id") === folderId)
    uid.fold(base)(u => base.filter(
        col("owner_uid") === u || array_contains(col("shared_with"), u)))
      .orderBy("owner_uid").limit(1)
  }

  /** O22's three-way predicate for ONE principal, vectorized over all
    * folders: the folders `uid` may access. Union of ownership,
    * shared_with UID membership, and share-doc existence — the
    * existence arm is a LEFT SEMI on (owner, folder) ONLY, exactly the
    * reference's unfiltered probe (main.py:543-545). */
  def accessibleFolders(folders: DataFrame, shares: DataFrame,
                        uid: String): DataFrame = {
    val owned = folders.filter(col("owner_uid") === uid)
    val sharedArray =
      folders.filter(array_contains(col("shared_with"), typedLit(uid)))
    val sharedDoc = folders.join(
      shares.select(col("owner_id").as("s_owner"), col("folder_id").as("s_fid")),
      col("owner_uid") === col("s_owner") && col("folder_id") === col("s_fid"),
      "left_semi")
    owned.unionByName(sharedArray).unionByName(sharedDoc)
      .dropDuplicates("owner_uid", "folder_id")
  }

  /** O20/O22 as a point check (the reference's per-request gate):
    * true iff `uid` may read `folderId` — exactly
    * `accessibleFolders(folders, shares, uid)` containing `folderId`,
    * answered by two pruned lookups in the reference's order
    * (main.py:539-545) instead of building that whole set:
    *  1. the `folderId` rows of `folders`, projected to `owner_uid`
    *     and the ownership-or-shared_with predicate — evaluated by
    *     Spark, so SQL NULL semantics are the set form's — grant if
    *     any row's predicate is true;
    *  2. otherwise, when owners matched, grant iff a share doc exists
    *     for (one of those owners, `folderId`).
    * On in-memory metadata (a LocalRelation, e.g. `createDataFrame`)
    * both lookups fold to local table scans and launch no Spark job;
    * on file-backed metadata they are filter-pushdown scans. */
  def canAccess(folders: DataFrame, shares: DataFrame,
                uid: String, folderId: String): Boolean = {
    val rows = folders.filter(col("folder_id") === folderId)
      .select(col("owner_uid"),
        (col("owner_uid") === uid ||
          array_contains(col("shared_with"), typedLit(uid))).as("granted"))
      .collect()
    rows.exists(r => !r.isNullAt(1) && r.getBoolean(1)) || {
      val owners = rows.collect { case r if !r.isNullAt(0) => r.get(0) }
      owners.nonEmpty && !shares.filter(col("folder_id") === folderId &&
        col("owner_id").isin(owners.distinct.toSeq: _*)).isEmpty
    }
  }

  /** O23 (main.py:459): reshape an extracted map column to the
    * reference's [{key, value}] list-of-structs form. Pure Column API —
    * no SQL-string splicing, so any column name (spaces, quotes) is
    * safe. */
  def mapToKeyValueList(df: DataFrame, mapCol: String): DataFrame =
    df.withColumn("kv", transform(map_entries(col(mapCol)),
      e => struct(e.getField("key").as("key"), e.getField("value").as("value"))))
}
