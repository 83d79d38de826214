package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** Exclusive-ownership lease over a Hadoop FileSystem path — the
  * broker-independent analog of the two places the reference leans on a
  * Pulsar EXCLUSIVE subscription as a distributed lock:
  *
  *  - the per-player login guard (`pulsar.go:142-152`): the second client
  *    subscribing to a player's event topic fails with "this player has
  *    logged in" — ST10's session lock;
  *  - the map-regenerator race (`pulsar.go:198-227`,
  *    `canUpdateObstacles`): every client tries an exclusive subscribe on
  *    the map topic under the SAME subscription name; the one that
  *    succeeds becomes the obstacle generator — ST3's leader election.
  *
  * Both are "first exclusive claimant wins; ownership lapses when the
  * owner dies". A Spark deployment has no broker to hold that state, but
  * it always has the shared filesystem its checkpoints/artifacts live on
  * — so the lease lives there, through the SAME
  * `org.apache.hadoop.fs.FileSystem` resolution the artifact store uses
  * (local disk, HDFS, or any store whose connector gives atomic
  * create-if-absent and atomic rename; object stores without those need
  * their conditional-put connector).
  *
  * Mechanics (one lease = one directory):
  *
  *  - ACQUIRE: atomically create `<dir>/lock` (`FileSystem.create` with
  *    overwrite = false — exactly one concurrent claimant succeeds; the
  *    losers get the reference's "already logged in" outcome). The file
  *    carries (owner, epoch, expiry).
  *  - RENEW: the lock file itself is never rewritten (delete + recreate
  *    would open a vacancy window; rename-over-existing is not portable
  *    across FileSystems). Liveness extends through a separate heartbeat
  *    file `<dir>/hb-<epoch>` (overwrite = true — only the owner writes
  *    it, so the overwrite races nobody). A lease is live while EITHER
  *    the lock's own expiry or its epoch-heartbeat deadline is in the
  *    future.
  *  - TAKEOVER: a challenger that observes an EXPIRED lease must not
  *    delete-and-create (two challengers interleaving deletes can kill
  *    each other's fresh locks). It RENAMES `lock` to a neutral claim
  *    file — rename is atomic, so exactly one challenger wins — then
  *    VALIDATES what it caught (a faster challenger may have already
  *    completed a takeover, making the renamed file the successor's
  *    LIVE lock: that is restored, lost reported), pins a permanent
  *    `dead-<epoch>` floor marker, and publishes epoch + 1.
  *  - FENCING: every acquisition carries a strictly increasing `epoch`.
  *    A protected action taken "as owner" quotes its epoch and is
  *    rejected once a later epoch exists — the zombie-writer hole the
  *    reference's broker lock shares with every lease system and closes
  *    only by fencing (Chubby/ZooKeeper's sequencer pattern).
  *
  * Clock caveat (documented, inherent to leases): expiry compares the
  * CHALLENGER's clock against the owner's written deadline, so clock
  * skew greater than the TTL margin can evict a live owner — size
  * `ttlMs` like a production lease (tens of seconds) against NTP-grade
  * skew; the spec uses tiny TTLs only to exercise the takeover path.
  * `clock` (epoch ms) is a test seam: the spec advances a fake clock
  * past a TTL instead of sleeping through it.
  */
final class FsLease(root: String, name: String, ownerId: String,
                    ttlMs: Long,
                    hadoopConf: org.apache.hadoop.conf.Configuration,
                    clock: () => Long = () => System.currentTimeMillis()) {

  private val dir = new Path(root, name)
  private val lock = new Path(dir, "lock")
  private def fs: FileSystem = dir.getFileSystem(hadoopConf)

  /** (owner, epoch, expiresAtMs) of the current lock file, if one exists
    * and parses; None for vacant or torn. */
  private def readLock(): Option[(String, Long, Long)] =
    try {
      val in = fs.open(lock)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.trim.split('\n') match {
        case Array(o, e, x) => Some((o, e.toLong, x.toLong))
        case _              => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def heartbeat(epoch: Long): Path = new Path(dir, s"hb-$epoch")

  private def heartbeatDeadline(epoch: Long): Long =
    try {
      val in = fs.open(heartbeat(epoch))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    } catch { case scala.util.control.NonFatal(_) => Long.MinValue }

  private def now(): Long = clock()

  private def writeAtomic(p: Path, txt: String, overwrite: Boolean): Boolean =
    try {
      val out = fs.create(p, overwrite)
      try out.write(txt.getBytes("UTF-8")) finally out.close()
      true
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Atomic create-if-absent — the race-deciding primitive. HDFS's
    * `create(overwrite = false)` IS atomic (namenode-arbitrated), but the
    * LOCAL connector's is a check-then-create (TOCTOU — measured: 8
    * concurrent claimants all "won" through it), so the local scheme
    * routes through NIO `CREATE_NEW`, which the kernel arbitrates. Object
    * stores must bring a conditional-put connector (documented in the
    * class doc). */
  private def createExclusive(p: Path, txt: String): Boolean =
    if (fs.getScheme == "file")
      try {
        val local = java.nio.file.Paths.get(p.toUri.getPath)
        java.nio.file.Files.write(local, txt.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch { case scala.util.control.NonFatal(_) => false }
    else writeAtomic(p, txt, overwrite = false)

  /** Highest epoch visible in the lease dir's artifacts (tombstones from
    * in-flight takeovers, heartbeats) — the floor a vacant-slot creation
    * must clear so a challenger racing a takeover can never re-issue an
    * epoch the dead owner already held. `dead-*` floor markers are
    * permanent and written by BOTH ownership-ending paths — takeover of
    * a crashed owner AND voluntary [[release]] — so epochs are strictly
    * monotone for the lease directory's lifetime and the bare epoch
    * number is a valid Chubby-style sequencer token on its own. */
  private def maxKnownEpoch(): Long =
    try {
      fs.listStatus(dir).map(_.getPath.getName).collect {
        case n if n.startsWith("dead-") => n.split('-')(1).toLong
        case n if n.startsWith("hb-")   => n.stripPrefix("hb-").toLong
      }.foldLeft(0L)(math.max)
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** Try to become the owner. Exactly one concurrent claimant succeeds
    * (the reference's exclusive-subscribe outcome); a claimant that
    * already owns the live lease succeeds idempotently (re-entrant, like
    * the kept `exclusiveObstacleConsumer`). Returns the fencing epoch on
    * success, None on "someone else holds it". */
  def tryAcquire(): Option[Long] = {
    fs.mkdirs(dir)
    readLock() match {
      case Some((o, e, x)) =>
        val live = math.max(x, heartbeatDeadline(e)) > now()
        if (o == ownerId && live) Some(e) // re-entrant
        else if (live) None
        else takeover(e)
      case None =>
        // vacant: but a FRESH claim file means a takeover is in flight —
        // the claimant will either publish epoch+1 or RESTORE a live
        // lock it caught by mistake. Claiming the vacancy now could
        // re-issue the epoch of that caught-live lock (its owner
        // acquired moments ago and has no heartbeat yet, so the floor
        // scan cannot see it — the full-suite r19 run produced exactly
        // that: two processes both fenced at epoch 2). Defer; the
        // caller's retry loop comes back after the claimant resolves.
        // Claims older than the TTL belong to a crashed claimant and no
        // longer gate (their lock, if any was caught, has lapsed too).
        if (freshClaimExists()) None
        else {
          // race the atomic create; losers report the winner's
          // ownership. Epoch clears any tombstone/heartbeat floor so a
          // vacancy observed MID-takeover (lock renamed away, successor
          // not yet published) still fences above the dead owner.
          val epoch = maxKnownEpoch() + 1
          if (createExclusive(lock, s"$ownerId\n$epoch\n${now() + ttlMs}"))
            Some(epoch)
          else None
        }
    }
  }

  /** A claim file younger than the TTL — an in-flight takeover whose
    * outcome (publish or restore) the vacancy path must wait out. */
  private def freshClaimExists(): Boolean =
    try {
      val cutoff = now() - ttlMs
      fs.listStatus(dir).exists(s =>
        s.getPath.getName.startsWith("claim-") &&
          s.getModificationTime > cutoff)
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Expired-lease takeover. The rename is the single-winner arbiter
    * (exactly one challenger's rename finds the source present), but it
    * must be VALIDATED after the fact: between this challenger's expiry
    * read and its rename, a faster challenger may have completed the
    * whole takeover — in which case the rename just stole the
    * SUCCESSOR'S LIVE LOCK (measured: two challengers both reporting
    * epoch 2). So the claim goes to a neutral uniquely-named file first;
    * if its content turns out live, it is restored and the takeover
    * reports lost. A permanent `dead-<epoch>` floor marker (written
    * BEFORE publishing, never GC'd) keeps the vacancy path's epoch scan
    * above every epoch that ever died here, so no interleaving can
    * re-issue a dead owner's fencing epoch. */
  private def takeover(deadEpoch: Long): Option[Long] = {
    // pin the floor BEFORE the rename opens the vacancy: a racer that
    // observes the missing lock scans the dir AFTER this write, so it
    // can never re-issue the dead owner's epoch (without this ordering
    // a vacancy racer measured exactly that — re-created epoch 1 while
    // epoch-1's owner was the one being taken over). If the lock turns
    // out to be live (we lost to a faster challenger), the stray marker
    // merely raises future floors — harmless. If the marker write FAILS,
    // abort before the rename opens the vacancy (same monotonicity-over-
    // availability rule as release): the lease stays expired and a later
    // challenger retries.
    if (!writeAtomic(new Path(dir, s"dead-$deadEpoch"), "", overwrite = true))
      return None
    val claim = new Path(dir, s"claim-$ownerId-${System.nanoTime()}")
    try {
      if (!fs.rename(lock, claim)) return None // another challenger won
    } catch { case scala.util.control.NonFatal(_) => return None }
    val content =
      try {
        val in = fs.open(claim)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    val parsed = content.map(_.trim.split('\n')).collect {
      case Array(o, e, x) => (o, e.toLong, x.toLong)
    }
    parsed match {
      case Some((o, e, x))
          if math.max(x, heartbeatDeadline(e)) > now() =>
        // stole a LIVE lock (a faster challenger already succeeded):
        // put it back and report lost. Pin the caught epoch's floor
        // FIRST: the freshly-acquired owner may have no heartbeat yet,
        // so without the marker a vacancy claimant racing this restore
        // window could re-issue epoch `e` to a second owner (the exact
        // two-winners-at-epoch-2 interleaving the r19 full-suite run
        // caught; freshClaimExists is the first defense, this marker
        // covers a claimant that crashed before restoring). The marker
        // never revokes `o`'s ownership — floors only raise FUTURE
        // epoch issuance, and isOwner/renew compare lock content.
        writeAtomic(new Path(dir, s"dead-$e"), "", overwrite = true)
        // restore may race a vacancy claimant; if it loses, owner `o`
        // observes isOwner == false — a spurious eviction, same failure
        // class as an expiry blip, but never a re-issued epoch.
        if (!createExclusive(lock, content.get)) ()
        try fs.delete(claim, false)
        catch { case scala.util.control.NonFatal(_) => () }
        None
      case Some((_, e, _)) =>
        // genuinely dead: pin the epoch floor FIRST, then publish e + 1
        writeAtomic(new Path(dir, s"dead-$e"), "", overwrite = true)
        val epoch = math.max(maxKnownEpoch(), e) + 1
        val won =
          createExclusive(lock, s"$ownerId\n$epoch\n${now() + ttlMs}")
        // best-effort GC of the claim + stale heartbeat; the dead-<e>
        // floor marker stays forever (tiny, one per takeover)
        try { fs.delete(claim, false); fs.delete(heartbeat(e), false) }
        catch { case scala.util.control.NonFatal(_) => () }
        if (won) Some(epoch) else None
      case None =>
        // torn/unreadable content: drop the claim, report lost
        try fs.delete(claim, false)
        catch { case scala.util.control.NonFatal(_) => () }
        None
    }
  }

  /** Refresh the owner's deadline. Returns false once ownership is lost
    * (lease taken over — the caller must stop acting as owner). */
  def renew(epoch: Long): Boolean =
    readLock() match {
      case Some((o, e, _)) if o == ownerId && e == epoch =>
        writeAtomic(heartbeat(epoch), (now() + ttlMs).toString,
          overwrite = true)
      case _ => false
    }

  /** True while (owner, epoch) still holds the lease — the FENCING check
    * a protected write performs before touching shared state. */
  def isOwner(epoch: Long): Boolean =
    readLock() match {
      case Some((o, e, x)) =>
        o == ownerId && e == epoch &&
          math.max(x, heartbeatDeadline(e)) > now()
      case None => false
    }

  /** Voluntary release (logout / leader stepping down): only the current
    * owner's release removes the lock; a stale owner's is a no-op. The
    * released epoch is pinned with the SAME permanent `dead-<epoch>` floor
    * marker the takeover path writes, so epochs are monotone for the lease
    * directory's whole lifetime — a protected resource can implement the
    * plain Chubby sequencer contract (reject any token <= the highest it
    * has seen) without special-casing clean releases, and the fencing
    * token is the bare epoch NUMBER, not the (owner, epoch) pair. The
    * marker is written BEFORE the lock is deleted: a vacancy claimant
    * only scans the dir after observing the missing lock, so it always
    * sees the floor — and if the marker write FAILS, the lock is left in
    * place to lapse by TTL (ADVICE r18): deleting it anyway would let
    * the next vacant acquire re-issue this epoch, silently breaking the
    * bare-epoch sequencer contract. Monotonicity over prompt vacancy —
    * a failed release just looks like a crash, which the takeover path
    * already handles with its own floor write. */
  def release(epoch: Long): Unit =
    readLock() match {
      case Some((o, e, _)) if o == ownerId && e == epoch =>
        if (writeAtomic(new Path(dir, s"dead-$e"), "", overwrite = true)) {
          try { fs.delete(lock, false); fs.delete(heartbeat(e), false) }
          catch { case scala.util.control.NonFatal(_) => () }
        }
      case _ => ()
    }
}

/** The two reference-facing facades over [[FsLease]]. */
object Lease {

  /** Where a session's leases live; resolved once per call so tests can
    * point different "clients" at one shared root. */
  val RootConfKey = "spark.graft.lease.root"

  private def root(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption(RootConfKey).filter(_.nonEmpty).getOrElse(
      sys.props("java.io.tmpdir") + "/graft_leases")

  /** ST3's election half (`pulsar.go:198-227`): every would-be map
    * regenerator calls this with the SAME role name; exactly one gets
    * `Some(epoch)` and runs the periodic job (wrap the actual regen in
    * [[FsLease.isOwner]] with that epoch — the fencing the reference's
    * broker race lacks). Others retry on their own cadence, exactly like
    * `canUpdateObstacles` returning false. */
  def election(spark: org.apache.spark.sql.SparkSession, role: String,
               ownerId: String, ttlMs: Long = 60000L): FsLease =
    new FsLease(root(spark), s"role-$role", ownerId, ttlMs,
      spark.sessionState.newHadoopConf())

  /** ST10's session lock (`pulsar.go:142-152`): one live session per
    * (room, player). `tryAcquire() == None` is the reference's
    * "this player has logged in" rejection; `release` is logout; a
    * crashed client's lock lapses after `ttlMs` instead of holding the
    * player hostage (the broker analog: subscription dropped on
    * disconnect). */
  def sessionLock(spark: org.apache.spark.sql.SparkSession, room: String,
                  player: String, clientId: String,
                  ttlMs: Long = 60000L): FsLease =
    new FsLease(root(spark), s"session-$room-$player", clientId, ttlMs,
      spark.sessionState.newHadoopConf())
}
