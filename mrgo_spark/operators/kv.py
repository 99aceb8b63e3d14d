"""KV op-log engine (batch): the reference's linearizable KV surface.

The reference specifies (via models/kv.go:40-54 and the kvraft test
contracts) a Get/Put/Append store whose correctness notion is "fold a
totally ordered, exactly-once op-log into keyed state". Raft supplies
the total order there; here the order is the ``seq`` column and the
fold is expressed declaratively so Catalyst plans it (SURVEY §2.3,
§3.3).

Semantics implemented:
- at-most-once: duplicate deliveries share (client, reqid); only the
  first occurrence (min seq) applies (kvraft/test_test.go:83-100).
- Put replaces, Append concatenates with no separator, Get reads and
  never mutates; missing key reads as "" (models/kv.go:43-51).

Scale notes (100 TB): the fold is one shuffle on ``key`` (the
window/groupBy share partitioning); dedup is a window on
(client, reqid) — both are AQE-skew-splittable. No driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NSHARDS = 10  # reference shardmaster/common.go:21


def synth_oplog(events: DataFrame, n_keys: int = 50, dup_every: int = 17) -> DataFrame:
    """Derive a deterministic KV op-log from the ``events`` fixture.

    Mapping (pure, engine-agnostic so the oracle can reproduce it):
    seq=event_id, client=user_id, op from event_type
    (purchase/signup→put, error→get, else append),
    key=str(user_id % n_keys), value='x<client>.<seq>y'.

    Every ``dup_every``-th event is also delivered a second time with
    the same (client, reqid) but a later seq — the retransmission the
    at-most-once rule must suppress.
    """
    op = (
        F.when(F.col("event_type").isin("purchase", "signup"), F.lit("put"))
        .when(F.col("event_type") == "error", F.lit("get"))
        .otherwise(F.lit("append"))
    )
    base = events.select(
        F.col("event_id").alias("seq"),
        F.col("user_id").alias("client"),
        F.col("event_id").alias("reqid"),
        op.alias("op"),
        (F.col("user_id") % n_keys).cast("string").alias("key"),
        F.when(
            op != "get",
            F.concat(
                F.lit("x"),
                F.col("user_id").cast("string"),
                F.lit("."),
                F.col("event_id").cast("string"),
                F.lit("y"),
            ),
        ).alias("value"),
    )
    dups = base.filter((F.col("reqid") % dup_every) == 0).withColumn(
        "seq", F.col("seq") + F.lit(10_000_000)
    )
    return base.unionAll(dups)


def dedup_at_most_once(oplog: DataFrame) -> DataFrame:
    """Keep only the first delivery of each (client, reqid).

    Formulation note (measured): the hash-aggregate
    alternative — groupBy(client, reqid).agg(min_by(struct(*), seq))
    — would suppress retransmissions map-side before the shuffle, but
    A/B at sf0.1 ran 2.06 s vs 1.17 s for this window form: with a
    low duplicate fraction (1/17 here, and retry storms are the
    exception, not the rule) the per-row struct copy costs more than
    the ~6% of shuffle bytes it saves. Revisit only if the op-log is
    network-bound with a high duplicate rate.
    """
    w = Window.partitionBy("client", "reqid").orderBy("seq")
    return (
        oplog.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _ordered_concat(seq_col: str, value_col: str):
    """Log-ordered string concat: sort (seq,value) structs, join values.

    collect_list order is shuffle-dependent; sorting the struct array
    by seq restores the log order deterministically.
    """
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(seq_col, value_col))),
            lambda s: s[value_col],
        ),
        "",
    )


def fold_state(oplog: DataFrame) -> DataFrame:
    """Materialize final state per key: O21 batch fold.

    state(k) = value of the last Put concatenated with every Append
    after it (all Appends from the start if the key was never Put).
    Columns: (key, state).
    """
    ops = dedup_at_most_once(oplog).filter(F.col("op").isin("put", "append"))
    # last_put as an unbounded window over key (not a groupBy+join):
    # the window's hash partitioning on key is reused by the final
    # groupBy, so the fold costs one exchange after the dedup window
    # instead of three (agg + join + agg).
    w_key = Window.partitionBy("key")
    live = ops.withColumn(
        "last_put",
        F.max(F.when(F.col("op") == "put", F.col("seq"))).over(w_key),
    ).filter(F.col("seq") >= F.coalesce(F.col("last_put"), F.lit(-1)))
    return live.groupBy("key").agg(_ordered_concat("seq", "value").alias("state"))


def compact_oplog(oplog: DataFrame, upto_seq: int) -> DataFrame:
    """Log compaction — the Raft-snapshot analog. The reference has
    the storage hook only (persister.go:53-58, unimplemented); the
    kvraft 3B tests pin the semantics: applied entries up to a point
    are replaced by a state snapshot, the tail is kept, and the fold
    of the compacted log equals the fold of the full log.

    Snapshot rows are synthetic Puts at seq = ``upto_seq`` (one per
    live key, carrying the folded state); entries with seq > upto_seq
    pass through verbatim. Input must already be deduped — Raft
    snapshots cover *applied* (post-dedup) entries, and kvraft
    serializes the duplicate-detection table alongside the state, not
    inside the log. Snapshot reqids are xxhash64(key) under client -1
    so a downstream dedup pass cannot collapse distinct keys.

    Scale shape: one fold over the prefix (one shuffle) + a union —
    the log store shrinks from O(ops) to O(live keys) + tail, which
    is the entire point of compaction at 100 TB.
    """
    pre = oplog.filter(F.col("seq") <= upto_seq)
    post = oplog.filter(F.col("seq") > upto_seq)
    snap = fold_state(pre).select(
        F.lit(upto_seq).cast("long").alias("seq"),
        F.lit(-1).cast("long").alias("client"),
        F.xxhash64("key").alias("reqid"),
        F.lit("put").alias("op"),
        "key",
        F.col("state").alias("value"),
    )
    return snap.unionAll(post.select("seq", "client", "reqid", "op", "key", "value"))


def get_results(oplog: DataFrame) -> DataFrame:
    """O18: the value each Get observes at its position in the log.

    Window formulation: ``put_grp`` counts Puts up to the current row
    (so each Put starts a new group); within (key, put_grp) the state
    is the ordered concat of mutation values up to the current row.
    Gets carry NULL values, which the concat skips.
    Columns: (seq, key, val).
    """
    ops = dedup_at_most_once(oplog)
    w_grp = (
        Window.partitionBy("key")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ops = ops.withColumn(
        "put_grp",
        F.count(F.when(F.col("op") == "put", F.lit(1))).over(w_grp),
    )
    w_state = (
        Window.partitionBy("key", "put_grp")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_state = ops.withColumn(
        "state",
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("value").isNotNull(),
                            F.struct("seq", "value"),
                        )
                    ).over(w_state)
                ),
                lambda s: s["value"],
            ),
            "",
        ),
    )
    return with_state.filter(F.col("op") == "get").select(
        "seq", "key", F.coalesce(F.col("state"), F.lit("")).alias("val")
    )


def key2shard(key_col) -> F.Column:
    """Reference shardkv/client.go:22-29: first byte of key mod NShards."""
    col = F.col(key_col) if isinstance(key_col, str) else key_col
    return (F.ascii(F.substring(col, 1, 1)) % NSHARDS).alias("shard")


def shard_stats(oplog: DataFrame) -> DataFrame:
    """O22 as a declared query: op count + distinct keys per shard."""
    return (
        oplog.withColumn("shard", key2shard("key"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_ops"),
            F.countDistinct("key").alias("n_keys"),
        )
    )


CH_SERVERS = 5  # consistent-hash ring: servers in the base config
CH_VNODES = 8   # virtual nodes per server (variance damping)


def ring_points(n_servers: int = CH_SERVERS) -> list[tuple[int, int]]:
    """The consistent-hash ring (Karger et al. 1997): CH_VNODES
    md5-derived 48-bit positions per server, sorted. Python-computed
    ONCE and interpolated as literal arrays into both engines (the
    Bloom-tuple rule) — the ring is config-sized, never data-sized,
    so it rides in the plan like a PQ LUT."""
    import hashlib

    pts = []
    for s in range(n_servers):
        for v in range(CH_VNODES):
            h = int(
                hashlib.md5(f"mrgo-ring-{s}-{v}".encode()).hexdigest()[:12],
                16,
            )
            pts.append((h, s))
    pts.sort()
    return pts


def ring_owner_exprs(n_servers: int = CH_SERVERS):
    """(key_pos, owner) Column pair for the consistent-hash ring —
    THE one source of the md5 key position and the literal-array
    successor lookup (the streaming router uses it too, so a vnode/hash
    change edited in one place cannot desync two copies). ``owner``
    references the ``key_pos`` column, so callers must materialize
    key_pos first."""
    pts = ring_points(n_servers)
    pos_arr = "array(" + ",".join(f"{p}L" for p, _ in pts) + ")"
    srv_arr = "array(" + ",".join(str(s) for _, s in pts) + ")"
    n = len(pts)
    key_pos = F.conv(F.substring(F.md5("key"), 1, 12), 16, 10).cast("long")
    owner = F.expr(
        f"element_at({srv_arr}, cast("
        f"  case when size(filter({pos_arr}, p -> p >= key_pos)) = 0"
        f"       then 1"
        f"       else {n} - size(filter({pos_arr}, p -> p >= key_pos)) + 1"
        f"  end as int))"
    ).cast("long")
    return key_pos, owner


def consistent_ring_stats(
    oplog: DataFrame, n_servers: int = CH_SERVERS
) -> DataFrame:
    """Consistent-hashing key placement — the ring-based
    alternative to the reference's fixed first-byte-mod-10 routing
    (key2shard): key → first ring point clockwise (md5_48 of the key
    vs the sorted virtual-node positions, wrapping to the minimum).
    The lookup is a MAP-ONLY array expression over the literal ring
    (size(filter(pos_arr, p >= key_pos)) indexes the successor), so
    placement costs zero shuffles at any corpus size; the one shuffle
    here is the per-key op count.

    The property that makes the ring worth its complexity — adding a
    server moves ONLY the keys it claims (every reassigned key lands
    on the new server; rebalance() needs a coordinator to say the
    same) — is pinned in tests, not here. Columns: (key, key_pos,
    owner, n_ops)."""
    key_pos, owner = ring_owner_exprs(n_servers)
    per_key = oplog.groupBy("key").agg(
        F.count("*").cast("long").alias("n_ops")
    ).withColumn("key_pos", key_pos)
    return per_key.select(
        "key", "key_pos", owner.alias("owner"), "n_ops"
    )


SG_REPLICAS = 3  # lagged read replicas in the session-guarantee model
SG_LAG = 100     # staleness per replica rank, in seq units
SG_HOP = 250     # replica reassignment stride (clients hop replicas)


def session_guarantee_audit(oplog: DataFrame) -> DataFrame:
    """Client-session consistency audit — the Terry et al. 1994
    session guarantees (read-your-writes, monotonic reads) checked
    against a deterministic lagged-replica serving model. The
    linearizability checker (operators/linearize.py) answers "is this
    history correct at all?"; this answers the weaker-consistency
    question a replicated serving tier actually faces: WHICH reads
    broke WHICH session guarantee, and by how much.

    Serving model (pure, engine-reproducible): a get at seq s from
    client c is served by replica (c + s div SG_HOP) mod SG_REPLICAS,
    whose view is the put-prefix at horizon = s − replica·SG_LAG.
    Replica hops make horizons REGRESS between a client's successive
    reads — the monotonic-read hazard; replica lag makes a client's
    own fresh put invisible — the read-your-writes hazard. Only
    put/get ops participate (version = put count; appends are the
    fold family's concern).

    Per get: version_seen = |key puts with seq ≤ horizon| (an as-of
    lookup, computed by the union + last_value(IGNORE NULLS) idiom —
    one per-key window, no join), own_last_put_seq = the client's
    latest put TO THE SAME KEY strictly before the get, ryw_ok = own
    put within horizon, mr_ok = version_seen non-decreasing per
    (client, key). Both guarantees are PER-ITEM (Terry et al. define
    them over a data item's writes): a session interleaving two keys
    must not flag a cross-key version drop — the audit windows
    partition by (client, key), not client alone (the synthetic
    oplog maps each client to one key, so the fixture cannot see the
    difference; a test pins it).

    Shape: one key shuffle for the visibility window, one client
    shuffle for own-writes + monotonic — both windows domain-ordered,
    no self-join, no all-pairs. Columns: (seq, client, key, replica,
    horizon, version_seen, own_last_put_seq, ryw_ok, mr_ok)."""
    ops = dedup_at_most_once(oplog).filter(F.col("op").isin("put", "get"))
    w_own = (
        Window.partitionBy("client", "key")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the ops frame (dedup window + own-writes window) feeds BOTH the
    # puts and gets branches of the visibility union — without a
    # checkpoint each branch re-runs the oplog dedup + client window
    # (the no-exchange-reuse class; the plan shows the scan + two
    # windows doubled without it). One oplog pass at any scale.
    ops = ops.withColumn(
        "own_last_put_seq",
        F.last(
            F.when(F.col("op") == "put", F.col("seq")), ignorenulls=True
        ).over(w_own),
    ).localCheckpoint(eager=False)
    replica = F.expr(
        f"pmod(client + seq div {SG_HOP}, {SG_REPLICAS})"
    ).cast("long")
    horizon = (F.col("seq") - replica * SG_LAG).cast("long")
    w_ver = Window.partitionBy("key").orderBy("seq")
    puts = (
        ops.filter(F.col("op") == "put")
        .withColumn("pver", F.row_number().over(w_ver).cast("long"))
        .select(
            "key",
            F.col("seq").alias("eff"),
            F.lit(0).alias("is_get"),
            F.col("seq").alias("osq"),
            "pver",
            F.lit(None).cast("long").alias("seq"),
            F.lit(None).cast("long").alias("client"),
            F.lit(None).cast("long").alias("replica"),
            F.lit(None).cast("long").alias("horizon"),
            F.lit(None).cast("long").alias("own_last_put_seq"),
        )
    )
    gets = ops.filter(F.col("op") == "get").select(
        "key",
        horizon.alias("eff"),
        F.lit(1).alias("is_get"),
        F.col("seq").alias("osq"),
        F.lit(None).cast("long").alias("pver"),
        "seq",
        "client",
        replica.alias("replica"),
        horizon.alias("horizon"),
        "own_last_put_seq",
    )
    w_vis = (
        Window.partitionBy("key")
        .orderBy("eff", "is_get", "osq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vis = (
        puts.unionByName(gets)
        .withColumn(
            "version_seen",
            F.coalesce(
                F.last("pver", ignorenulls=True).over(w_vis), F.lit(0)
            ),
        )
        .filter(F.col("is_get") == 1)
    )
    w_mr = Window.partitionBy("client", "key").orderBy("seq")
    prev_ver = F.lag("version_seen").over(w_mr)
    return vis.select(
        "seq",
        "client",
        "key",
        "replica",
        "horizon",
        "version_seen",
        "own_last_put_seq",
        (
            F.col("own_last_put_seq").isNull()
            | (F.col("own_last_put_seq") <= F.col("horizon"))
        ).alias("ryw_ok"),
        (prev_ver.isNull() | (F.col("version_seen") >= prev_ver)).alias(
            "mr_ok"
        ),
    )


NGROUPS = 3  # replica groups in the synthetic config schedule
EPOCH_WIDTH = 1000  # log entries per config epoch


def epoch_serving(oplog: DataFrame) -> DataFrame:
    """O24: serving during reconfiguration — the ErrWrongGroup
    observable (reference shardkv/client.go:68-96 retry loop;
    shardkv/test_test.go:90-141 TestJoinLeave).

    A deterministic config schedule rotates shard ownership every
    ``EPOCH_WIDTH`` log entries: owner(shard, epoch) =
    (shard + epoch) % NGROUPS + 1. Clients contact the group from
    their cached config (client % NGROUPS + 1); a request is served
    iff the contacted group owns the key's shard in the request's
    epoch, else the group answers ErrWrongGroup. Per (epoch,
    contacted gid): ops served, ops rejected, distinct keys served.

    Scale shape: dedup window + one groupBy — the epoch/owner/served
    columns are pure row-local expressions, so this costs the same
    two exchanges as any keyed fold; no config table is joined
    because the schedule is computable per-row.
    """
    epoch = F.expr(f"seq div {EPOCH_WIDTH}")
    d = (
        dedup_at_most_once(oplog)
        .withColumn("epoch", epoch)
        .withColumn("shard", key2shard("key"))
        .withColumn("owner", (F.col("shard") + F.col("epoch")) % NGROUPS + 1)
        .withColumn("gid", F.col("client") % NGROUPS + 1)
    )
    served = F.col("owner") == F.col("gid")
    return d.groupBy("epoch", "gid").agg(
        F.count(F.when(served, 1)).alias("n_served"),
        F.count(F.when(~served, 1)).alias("n_wrong_group"),
        F.countDistinct(F.when(served, F.col("key"))).alias("n_keys_served"),
    )


TRANSFER_STRIDE = 80  # shard s arrives at its new owner at offset (s+1)*80


def transfer_serving(oplog: DataFrame) -> DataFrame:
    """O24 completion: serving DURING an in-flight handoff
    (reference shardkv/test_test.go:817
    ``TestChallenge2Unaffected`` / :887 ``TestChallenge2Partial``).
    ``epoch_serving`` models instantaneous epoch flips; the reference
    additionally requires (a) shards NOT moving in a reconfiguration
    to keep serving throughout it, and (b) moving shards to serve at
    their new owner AS SOON as they arrive, not when the whole
    transfer finishes.

    Schedule: at epoch e ≥ 1 only shards with s % NGROUPS == e %
    NGROUPS move (one group's worth per epoch — unlike the
    full-rotation ``epoch_serving`` schedule, this one HAS unaffected
    shards); ownership is cumulative: owner(s, e) = (s + moves(s, e))
    % NGROUPS + 1 with moves(s, e) = |{e' ∈ [1, e] : e' ≡ s (mod
    NGROUPS)}| = (e + (NGROUPS − s % NGROUPS) % NGROUPS) div NGROUPS.
    A moving shard is IN TRANSFER from its epoch's start until its
    staggered arrival offset (s+1)·TRANSFER_STRIDE log entries in
    (Challenge2Partial's per-shard arrivals). Request outcomes, per
    the client retry loop semantics:

        served       — contacted the current owner, shard not (or no
                       longer) in transfer
        in_transfer  — contacted the (new) owner but the shard has
                       not arrived yet: the availability gap
        wrong_group  — contacted any other group (stale client cache)

    Output per (epoch, contacted gid): the three counts plus the
    unaffected-shard observables n_unaffected_req /
    n_unaffected_served (correctly-routed requests to non-moving
    shards, and how many served). NOTE: in THIS model
    the two are equal BY CONSTRUCTION, not by measurement —
    unaffected = routed & ~moving implies served = routed &
    (~moving | ~in_window), so the equality is the model stating
    the Challenge2Unaffected contract, not an invariant that could
    independently fail here. A deployment would derive served-ness
    from observed responses (data that CAN diverge); the chaos
    tests exercise exactly that by re-deriving both sides from
    reordered/replayed streams. Also avail_milli = 1000·served div
    (served + in_transfer), the fraction of correctly-routed
    requests actually served (1000 when no correctly-routed traffic).

    Scale shape: identical to ``epoch_serving`` — every schedule
    column is a pure row-local expression, so the whole audit is the
    dedup window + one groupBy, no config table join."""
    return transfer_serving_counts(dedup_at_most_once(oplog))


def transfer_serving_counts(deduped: DataFrame) -> DataFrame:
    """The post-dedup body of :func:`transfer_serving` — row-local
    schedule columns + one groupBy, so it streams as-is (the
    cms_counters one-copy rule): the streaming twin feeds an
    exactly-once op stream here directly (the at-most-once window is
    a batch construct)."""
    d = (
        deduped
        .withColumn("epoch", F.expr(f"seq div {EPOCH_WIDTH}"))
        .withColumn("shard", key2shard("key"))
        .withColumn("gid", F.col("client") % NGROUPS + 1)
    )
    r = F.col("shard") % NGROUPS
    moves = F.expr(
        f"(epoch + ({NGROUPS} - shard % {NGROUPS}) % {NGROUPS})"
        f" div {NGROUPS}"
    )
    d = d.withColumn("owner", (F.col("shard") + moves) % NGROUPS + 1)
    moving = (F.col("epoch") >= 1) & (F.col("epoch") % NGROUPS == r)
    in_window = (F.col("seq") % EPOCH_WIDTH) < (
        (F.col("shard") + 1) * TRANSFER_STRIDE
    )
    routed = F.col("gid") == F.col("owner")
    served = routed & (~moving | ~in_window)
    in_transfer = routed & moving & in_window
    unaffected = routed & ~moving
    agg = d.groupBy("epoch", "gid").agg(
        F.count(F.when(served, 1)).alias("n_served"),
        F.count(F.when(~routed, 1)).alias("n_wrong_group"),
        F.count(F.when(in_transfer, 1)).alias("n_in_transfer"),
        F.count(F.when(unaffected, 1)).alias("n_unaffected_req"),
        F.count(F.when(unaffected & served, 1)).alias(
            "n_unaffected_served"
        ),
    )
    return agg.withColumn(
        "avail_milli",
        F.when(
            F.col("n_served") + F.col("n_in_transfer") > 0,
            F.expr(
                "cast((1000 * n_served)"
                " div (n_served + n_in_transfer) as bigint)"
            ),
        ).otherwise(F.lit(1000).cast("long")),
    )


CATCHUP_STRIDE = 100  # log entries to apply ONE missed config in order


def config_catchup_serving(oplog: DataFrame) -> DataFrame:
    """Missed-config catch-up audit (reference
    shardkv/test_test.go:211 ``TestMissChange``): a group that is
    offline across several config changes must, on return, apply the
    missed configs STRICTLY IN ORDER and only serve once caught up —
    it may neither skip ahead to the newest config nor serve stale.

    Deterministic outage schedule over the ``epoch_serving`` rotation
    (owner(s, e) = (s + e) % NGROUPS + 1; clients contact
    client % NGROUPS + 1): group g is offline for epochs
    [2g, 3g − 1] (so group g misses exactly g epochs — a 1/2/3-epoch
    backlog at NGROUPS = 3) and returns at epoch 3g with
    ret − start + 1 = g + 1 configs unapplied (the missed ones plus
    the return epoch's own). Catch-up applies them one per
    ``CATCHUP_STRIDE`` log entries, so the group serves nothing for
    the first (g + 1)·CATCHUP_STRIDE entries of its return epoch —
    requests landing in that window are rejected as stale (the
    client-visible ErrWrongGroup retry storm TestMissChange
    provokes), exactly as a group mid-replay of shardmaster configs
    would answer. Requests to an offline group are dropped.

    Output per (epoch, contacted gid), all bigint:

        configs_behind     — unapplied configs at the epoch's start
                             (grows 1, 2, … while offline; g + 1 at
                             the return epoch; 0 when current)
        n_dropped_offline  — requests that got no response
        n_rejected_stale   — requests answered during catch-up
        n_served           — correctly-routed requests served
        n_wrong_group      — mis-routed requests (stale client cache)
        n_applied          — configs applied during this epoch: 1
                             when current, 0 while offline, g + 1 in
                             the return epoch. Because application is
                             in order with no skips, the running sum
                             of n_applied over epochs equals
                             epoch + 1 at every up-to-date epoch —
                             the in-order pin the tests check.
        serve_milli        — 1000·served div (all contacts); the
                             denominator is ≥ 1 by construction (a
                             (epoch, gid) row exists only when the
                             group was contacted)

    Scale shape: identical to ``transfer_serving`` — the outage
    schedule is a pure function of (gid, epoch, offset), so the
    whole audit is the at-most-once window + one groupBy; no config
    table is materialized or joined."""
    return config_catchup_counts(dedup_at_most_once(oplog))


def config_catchup_counts(deduped: DataFrame) -> DataFrame:
    """The post-dedup body of :func:`config_catchup_serving` —
    row-local schedule columns + one groupBy, so it streams as-is
    (the transfer_serving_counts one-copy rule); the streaming twin
    feeds an exactly-once op stream here directly."""
    d = (
        deduped
        .withColumn("epoch", F.expr(f"seq div {EPOCH_WIDTH}"))
        .withColumn("off", F.col("seq") % EPOCH_WIDTH)
        .withColumn("shard", key2shard("key"))
        .withColumn("gid", F.col("client") % NGROUPS + 1)
    )
    d = (
        d.withColumn("owner", (F.col("shard") + F.col("epoch")) % NGROUPS + 1)
        .withColumn("start_e", F.lit(2) * F.col("gid"))
        .withColumn("end_e", F.lit(3) * F.col("gid") - 1)
        .withColumn("ret_e", F.lit(3) * F.col("gid"))
    )
    offline = (F.col("epoch") >= F.col("start_e")) & (
        F.col("epoch") <= F.col("end_e")
    )
    behind_at_ret = F.col("ret_e") - F.col("start_e") + 1
    catchup = (F.col("epoch") == F.col("ret_e")) & (
        F.col("off") < behind_at_ret * CATCHUP_STRIDE
    )
    routed = F.col("gid") == F.col("owner")
    served = ~offline & ~catchup & routed
    wrong = ~offline & ~catchup & ~routed
    behind = (
        F.when(offline, F.col("epoch") - F.col("start_e") + 1)
        .when(F.col("epoch") == F.col("ret_e"), behind_at_ret)
        .otherwise(F.lit(0))
        .cast("long")
    )
    applied = (
        F.when(offline, F.lit(0))
        .when(F.col("epoch") == F.col("ret_e"), behind_at_ret)
        .otherwise(F.lit(1))
        .cast("long")
    )
    agg = d.groupBy("epoch", "gid").agg(
        F.max(behind).alias("configs_behind"),
        F.count(F.when(offline, 1)).alias("n_dropped_offline"),
        F.count(F.when(catchup, 1)).alias("n_rejected_stale"),
        F.count(F.when(served, 1)).alias("n_served"),
        F.count(F.when(wrong, 1)).alias("n_wrong_group"),
        F.max(applied).alias("n_applied"),
    )
    return agg.withColumn(
        "serve_milli",
        F.expr(
            "cast((1000 * n_served) div (n_served + n_wrong_group"
            " + n_rejected_stale + n_dropped_offline) as bigint)"
        ),
    )


def handoff_gc_obligations(oplog: DataFrame) -> DataFrame:
    """Shard-handoff GC audit (reference
    shardkv/test_test.go:663 ``TestChallenge1Delete``): after a config
    change the SOURCE group must stop storing the shards it handed
    off — the reference enforces it through snapshot-size budgets.
    This is that obligation as a declarative table: for every
    (epoch ≥ 1, gid) under the rotating ownership schedule
    (owner(s, e) = (s + e) % NGROUPS + 1, the ``epoch_serving``
    schedule — every shard moves every epoch), report

        n_shards_owned      — shards the group owns in this epoch
        n_shards_handed_off — shards it owned at e−1 that now hold
                              data elsewhere AND are non-empty (≥1
                              key written while it owned them or
                              earlier — an empty shard has nothing
                              to reap)
        n_reap_keys         — total distinct keys those handed-off
                              copies still hold if never deleted:
                              the exact storage the snapshot budget
                              would charge an unreaped group for

    A shard's key population as of the e−1 boundary = distinct keys
    with a SERVED put/append in epochs ≤ e−1 (only the owner applies
    writes — the ``epoch_serving`` model; rejected ops are lost).

    Scale shape: one corpus aggregate to (shard, key) → min-write-
    epoch, then everything runs on the (epochs × NSHARDS) DOMAIN grid
    — cumulative counts via ONE per-shard running-sum window over the
    grid ∪ delta rows (linear in epoch count; a join-per-grid-row
    formulation would be O(E²) once logs span millions of epochs),
    ownership computable per row — at 100 TB the audit costs one
    write-scan aggregate plus a domain-sized window, never a
    per-epoch log replay. Diff a deployment's actual storage against
    this table with :func:`storage_leak_audit`."""
    d = (
        dedup_at_most_once(oplog)
        .withColumn("epoch", F.expr(f"seq div {EPOCH_WIDTH}"))
        .withColumn("shard", key2shard("key"))
    )
    served = (F.col("shard") + F.col("epoch")) % NGROUPS + 1 == F.col(
        "client"
    ) % NGROUPS + 1
    first_w = (
        d.filter(F.col("op").isin("put", "append") & served)
        .groupBy("shard", "key")
        .agg(F.min("epoch").alias("minw"))
        .groupBy("shard", "minw")
        .agg(F.count("*").cast("long").alias("c"))
    )
    # guard the sequence: Spark's sequence(1, 0) DESCENDS instead of
    # being empty (the rebalance_step_df gotcha) — a tiny fixture
    # whose whole log fits in epoch 0 must yield zero audit rows,
    # matching generate_series(1, 0) in the oracle
    epochs = d.agg(F.max("epoch").alias("_e")).select(
        F.explode(
            F.when(
                F.col("_e") >= 1,
                F.sequence(F.lit(1).cast("long"), F.col("_e")),
            ).otherwise(F.array())
        ).alias("epoch")
    )
    grid = epochs.crossJoin(
        d.sparkSession.range(NSHARDS).select(
            F.col("id").cast("int").alias("shard")
        )
    )
    # cumulative keys as of the e-1 boundary via the interval-cumsum
    # trick: a (shard, minw) count becomes VISIBLE at audit epoch
    # minw+1; union the delta rows with the grid and run one
    # per-shard running sum (deltas sort before the grid row at the
    # same epoch). LINEAR in the epoch count — the join-per-grid-row
    # form re-aggregated every shard's whole delta list per epoch,
    # O(E²) once logs run to millions of epochs.
    deltas = first_w.select(
        "shard",
        (F.col("minw") + 1).alias("epoch"),
        F.col("c").alias("d"),
        F.lit(0).alias("is_grid"),
    )
    u = grid.select(
        "shard",
        "epoch",
        F.lit(0).cast("long").alias("d"),
        F.lit(1).alias("is_grid"),
    ).unionByName(deltas)
    wcum = (
        Window.partitionBy("shard")
        .orderBy("epoch", "is_grid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        u.withColumn("cumk", F.sum("d").over(wcum).cast("long"))
        .filter(F.col("is_grid") == 1)
        .select("epoch", "shard", "cumk")
    )
    # each grid row credits its CURRENT owner (owned count) and its
    # PREVIOUS owner (the group that must reap) — explode-once, no
    # second pass over the grid
    tag = cum.select(
        "epoch",
        F.explode(
            F.array(
                F.struct(
                    ((F.col("shard") + F.col("epoch")) % NGROUPS + 1).alias(
                        "gid"
                    ),
                    F.lit("own").alias("role"),
                    F.col("cumk"),
                ),
                F.struct(
                    (
                        (F.col("shard") + F.col("epoch") - 1) % NGROUPS + 1
                    ).alias("gid"),
                    F.lit("handoff").alias("role"),
                    F.col("cumk"),
                ),
            )
        ).alias("t"),
    ).select("epoch", "t.*")
    return tag.groupBy("epoch", "gid").agg(
        F.count(F.when(F.col("role") == "own", 1))
        .cast("long")
        .alias("n_shards_owned"),
        F.count(
            F.when((F.col("role") == "handoff") & (F.col("cumk") > 0), 1)
        )
        .cast("long")
        .alias("n_shards_handed_off"),
        F.coalesce(
            F.sum(F.when(F.col("role") == "handoff", F.col("cumk"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_reap_keys"),
    )


def storage_leak_audit(storage: DataFrame, epoch: int) -> DataFrame:
    """The reap CHECK (TestChallenge1Delete's assertion): given a
    deployment's actual per-group storage table
    ``(gid, shard, n_keys)`` observed at ``epoch``, classify each
    stored shard against the rotation schedule — ``owned`` (the group
    serves it) or ``leaked`` (an unreaped copy from a prior tenure;
    the snapshot-size budget violation). Pure row-local expressions:
    the storage table is metadata-sized (≤ groups × shards rows)."""
    owner = (F.col("shard") + F.lit(int(epoch))) % NGROUPS + 1
    return storage.select(
        "gid",
        "shard",
        "n_keys",
        F.when(F.col("gid") == owner, F.lit("owned"))
        .otherwise(F.lit("leaked"))
        .alias("verdict"),
    )


# --- O23: shard rebalancing (metadata op; reference shardmaster) -----------


def rebalance(assignment: dict[int, int], groups: list[int]) -> dict[int, int]:
    """Reassign shards to ``groups`` with max-min ≤ 1 and minimal moves.

    ``assignment`` maps shard -> gid (0 = unassigned), mirroring
    Config.Shards (reference shardmaster/common.go:20-29). The balance
    invariant max-min ≤ 1 is what shardmaster/test_test.go:35-52
    checks; minimal moves = only shards that must move do: the +1
    capacities (when shards don't divide evenly) are awarded to the
    groups currently holding the most shards, so exactly
    ``n - Σ min(held_g, cap_g)`` shards move — the provable minimum
    (asserted across Join/Leave sequences in tests/test_properties.py).
    Deterministic: ties broken by gid order.
    """
    shards = sorted(assignment)
    if not groups:
        return {s: 0 for s in shards}
    groups = sorted(set(groups))
    n, g = len(shards), len(groups)
    base, extra = divmod(n, g)
    held_count = {gid: 0 for gid in groups}
    for s in shards:
        if assignment[s] in held_count:
            held_count[assignment[s]] += 1
    award = sorted(groups, key=lambda gid: (-held_count[gid], gid))
    cap = {gid: base for gid in groups}
    for gid in award[:extra]:
        cap[gid] = base + 1
    holding: dict[int, list[int]] = {gid: [] for gid in groups}
    orphans: list[int] = []
    for s in shards:
        gid = assignment[s]
        if gid in holding and len(holding[gid]) < cap[gid]:
            holding[gid].append(s)
        else:
            orphans.append(s)
    out = dict(assignment)
    for gid in groups:
        while len(holding[gid]) < cap[gid]:
            s = orphans.pop(0)
            out[s] = gid
            holding[gid].append(s)
    return out


def migration_plan(
    old_assignment: dict[int, int], new_assignment: dict[int, int]
) -> list[tuple[int, int, int]]:
    """O24: the observable of a reconfiguration — which shards move.

    Reference semantics: on a config change, a shard's data migrates
    between replica groups exactly when its owning gid changes
    (shardkv/client.go:68-96 ErrWrongGroup retry loop;
    shardkv/test_test.go:90-141 exercises the handoff). Returns
    ``[(shard, from_gid, to_gid)]`` sorted by shard; from_gid 0 means
    the shard was unassigned (initial config).
    """
    return [
        (s, old_assignment[s], new_assignment[s])
        for s in sorted(old_assignment)
        if old_assignment[s] != new_assignment[s]
    ]


def reconfigure(
    assignment: dict[int, int], groups: list[int]
) -> tuple[dict[int, int], list[tuple[int, int, int]]]:
    """One Join/Leave step: rebalance onto ``groups`` and report the
    migration plan — the (new Config, shard handoffs) pair a shardkv
    deployment acts on."""
    new = rebalance(assignment, groups)
    return new, migration_plan(assignment, new)


# --- O23 declared form: rebalance as a pure table→table operator -----------

# Fixed Join/Leave/Move schedule, mirroring the shapes shardmaster
# TestBasic exercises (reference shardmaster/test_test.go:60-120:
# single joins, a leave, a multi-join, another leave, a Move).
REBALANCE_SCHEDULE: list[tuple[str, object]] = [
    ("join", [1]),
    ("join", [2]),
    ("join", [3]),
    ("leave", [1]),
    ("join", [4, 5]),
    ("leave", [3]),
    ("move", (3, 2)),
]


def schedule_groups(schedule=None) -> list[tuple[str, object, list[int]]]:
    """Resolve the schedule into (op, arg, live-group-set) triples."""
    live: set[int] = set()
    out = []
    if schedule is None:  # `or` would silently upgrade an explicit []
        schedule = REBALANCE_SCHEDULE
    for op, arg in schedule:
        if op == "join":
            live |= set(arg)
        elif op == "leave":
            live -= set(arg)
        out.append((op, arg, sorted(live)))
    return out


def rebalance_step_df(prev: DataFrame, groups: list[int]) -> DataFrame:
    """One declarative rebalance step: ``prev`` is a (shard, gid)
    config table; returns the re-balanced (shard, gid) table over
    ``groups`` with the same semantics as :func:`rebalance` (max−min
    ≤ 1, minimal moves, gid-ordered tie-breaks).

    Pure column expressions + two tiny broadcast joins, so the
    declared query runs under the grading driver's own session (no
    closures). Config tables are NSHARDS rows — metadata scale, like
    the reference's shardmaster; the data-scale siblings are
    kv_shard_stats / kv_epoch_serving which route the actual oplog.
    """
    spark = prev.sparkSession
    g = sorted(set(groups))
    if not g:
        return prev.select("shard", F.lit(0).alias("gid"))
    base, extra = divmod(NSHARDS, len(g))
    gdf = spark.createDataFrame([(gid,) for gid in g], "gid int")
    held = (
        prev.filter(F.col("gid").isin(g))
        .groupBy("gid")
        .agg(F.count("*").alias("held"))
    )
    caps = (
        gdf.join(held, "gid", "left")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc(F.coalesce("held", F.lit(0))), F.asc("gid"))
            ),
        )
        .select(
            "gid",
            (
                F.lit(base)
                + F.when(F.col("rk") <= F.lit(extra), 1).otherwise(0)
            ).alias("cap"),
        )
    )
    marked = (
        prev.join(F.broadcast(caps), "gid", "left")
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("gid").orderBy("shard"))
        )
        .withColumn("keep", F.col("cap").isNotNull() & (F.col("rn") <= F.col("cap")))
    )
    keepers = marked.filter(F.col("keep")).select("shard", "gid")
    orphans = marked.filter(~F.col("keep")).select(
        "shard", F.row_number().over(Window.orderBy("shard")).alias("orn")
    )
    kept = keepers.groupBy("gid").agg(F.count("*").alias("kept"))
    # Open slots, filled in gid order (matching the Python fold's
    # ``for gid in groups`` loop). Guard the sequence: Spark's
    # sequence(1, 0) DESCENDS instead of being empty.
    n_open = F.col("cap") - F.coalesce("kept", F.lit(0))
    slots = (
        caps.join(kept, "gid", "left")
        .select(
            "gid",
            F.explode(
                F.when(n_open > 0, F.sequence(F.lit(1), n_open)).otherwise(
                    F.array()
                )
            ).alias("si"),
        )
        .select("gid", F.row_number().over(Window.orderBy("gid", "si")).alias("orn"))
    )
    assigned = orphans.join(slots, "orn").select("shard", "gid")
    return keepers.unionByName(assigned)


def rebalance_config_history(spark, schedule=None) -> DataFrame:
    """O23 as a table→table query: fold the Join/Leave/Move schedule
    from the all-unassigned config 0 into the full config history
    ``(cfg, shard, gid, moved)`` — the shardmaster Query(-1) surface
    plus the migration observable (reference shardmaster/common.go:6-17
    RPC spec; test_test.go:35-52 balance invariant).

    Implementation: the fold is pure
    METADATA — NSHARDS rows × |schedule| configs from a constant
    schedule; no sf_dir table feeds it — so it runs the module's own
    Python fold (:func:`rebalance`, the function the three-way test
    already replays) and ships the 80-row history as one literal
    DataFrame. The former declarative step fold paid ~9 s of pure
    sequential-checkpoint scheduling latency for 80 rows; it is kept
    as :func:`rebalance_config_history_df` (the executable spec) and
    the parity test pins literal == declarative == oracle. Closure-
    free: createDataFrame serializes rows, nothing executes Python
    on executors.
    """
    assign = {s: 0 for s in range(NSHARDS)}
    rows = [(0, s, 0, 0) for s in range(NSHARDS)]
    for i, (op, arg, live) in enumerate(schedule_groups(schedule), start=1):
        if op == "move":
            shard, gid = arg
            new = dict(assign)
            new[shard] = gid
        else:
            new = rebalance(assign, live)
        rows.extend(
            (i, s, new[s], int(new[s] != assign[s])) for s in range(NSHARDS)
        )
        assign = new
    return spark.createDataFrame(
        rows, "cfg int, shard bigint, gid int, moved int"
    )


def rebalance_config_history_df(spark, schedule=None) -> DataFrame:
    """The declarative (pure-DataFrame) form of
    :func:`rebalance_config_history` — one :func:`rebalance_step_df`
    per schedule entry, checkpointed per step. Kept as the executable
    spec the literal form is parity-pinned against; the declared
    query serves the literal form (identical rows, none of the
    7-sequential-jobs scheduling floor)."""
    cfg0 = spark.range(NSHARDS).coalesce(1).select(
        F.col("id").alias("shard"), F.lit(0).alias("gid")
    )
    configs = [cfg0]
    for op, arg, live in schedule_groups(schedule):
        prev = configs[-1]
        if op == "move":
            shard, gid = arg
            nxt = prev.select(
                "shard",
                F.when(F.col("shard") == shard, F.lit(gid))
                .otherwise(F.col("gid"))
                .alias("gid"),
            )
        else:
            nxt = rebalance_step_df(prev, live)
        # Each step references `prev` three ways (held/marked/keepers);
        # chained 7 deep that lineage explodes Catalyst's
        # DeduplicateRelations (as connected_components' rounds do).
        # Sever it per step — configs are NSHARDS rows, and
        # coalesce(1) keeps each checkpoint job at one task instead
        # of shuffle-partitions many (7.4 → ~5 s; the remainder is
        # 7 sequential checkpoint jobs' fixed scheduling/broadcast
        # latency — a metadata fold's floor on Spark, not data cost).
        configs.append(nxt.coalesce(1).localCheckpoint(eager=False))
    hist = None
    for i, c in enumerate(configs):
        step = c.select(F.lit(i).alias("cfg"), "shard", "gid")
        hist = step if hist is None else hist.unionByName(step)
    w = Window.partitionBy("shard").orderBy("cfg")
    return hist.select(
        "cfg",
        "shard",
        "gid",
        (F.col("gid") != F.coalesce(F.lag("gid").over(w), F.col("gid")))
        .cast("int")
        .alias("moved"),
    )


def put_history_scd2(oplog: DataFrame) -> DataFrame:
    """SCD-2 validity intervals over the op-log's PUT versions: one
    row per (key, put) with (key, value, valid_from_seq,
    valid_to_seq, version). valid_to is the next put's seq - 1; the
    current (open) version carries -1. The warehouse "state history"
    view of O21's fold — a point query `WHERE valid_from <= s AND
    (valid_to = -1 OR s <= valid_to)` reproduces kv_state_at_seq's
    put component for any s.

    Shape: one hash partition by key + one window pass — the
    standard distributed SCD-2 build; no self-join, no fold."""
    w = Window.partitionBy("key").orderBy("seq")
    puts = oplog.filter(F.col("op") == "put")
    return puts.select(
        "key",
        "value",
        F.col("seq").cast("bigint").alias("valid_from_seq"),
        F.coalesce(F.lead("seq").over(w) - 1, F.lit(-1))
        .cast("bigint")
        .alias("valid_to_seq"),
        F.row_number().over(w).alias("version"),
    )


def state_diff(before: DataFrame, after: DataFrame) -> DataFrame:
    """Snapshot diff between two (key, state) frames — the
    dataset-versioning audit: per key a verdict
    added/removed/changed/unchanged plus the value LENGTHS on both
    sides (lengths, not values — the report stays row-bounded when
    values grow unbounded; callers wanting the payload join back on
    the key). 'removed' is unreachable when both frames fold the
    same delete-free op-log but belongs to the diff contract.

    Shape: one FULL OUTER key join between two O(live keys) frames.

    Reference anchor: the reconfiguration tests diff shard contents
    across config changes (reference src/shardkv/test_test.go
    check()); this is that check as a declarative table→table op."""
    b = before.select(
        F.col("key").alias("_kb"), F.col("state").alias("_sb")
    )
    a = after.select(
        F.col("key").alias("_ka"), F.col("state").alias("_sa")
    )
    return b.join(a, b["_kb"] == a["_ka"], "full").select(
        F.coalesce("_kb", "_ka").alias("key"),
        F.when(F.col("_kb").isNull(), F.lit("added"))
        .when(F.col("_ka").isNull(), F.lit("removed"))
        # eqNullSafe: a key whose state is NULL on BOTH sides is
        # unchanged — plain == is NULL for NULL==NULL and would fall
        # through to 'changed' (fold_state never emits NULL state,
        # but the generic contract accepts arbitrary caller frames)
        .when(F.col("_sb").eqNullSafe(F.col("_sa")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("verdict"),
        F.length("_sb").cast("long").alias("len_before"),
        F.length("_sa").cast("long").alias("len_after"),
    )
