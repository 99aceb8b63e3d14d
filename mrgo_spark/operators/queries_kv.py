"""Declared queries: KV op-log surface (SURVEY §2.3, O18-O22).

The op-log is synthesized deterministically from the ``events``
fixture with the exact same mapping on both engines (see
``kv.synth_oplog``), so the DuckDB oracle reproduces it in a CTE.
"""

from __future__ import annotations

from ..registry import declare
from ..sources.tables import load_table
from . import kv

# Must mirror kv.synth_oplog exactly (n_keys=50, dup_every=17).
_OPLOG = """
    WITH base AS (
        SELECT event_id AS seq,
               user_id AS client,
               event_id AS reqid,
               CASE WHEN event_type IN ('purchase','signup') THEN 'put'
                    WHEN event_type = 'error' THEN 'get'
                    ELSE 'append' END AS op,
               CAST(user_id % 50 AS VARCHAR) AS key,
               CASE WHEN event_type = 'error' THEN NULL
                    ELSE 'x' || CAST(user_id AS VARCHAR) || '.'
                             || CAST(event_id AS VARCHAR) || 'y' END AS value
        FROM events
    ),
    raw AS (
        SELECT * FROM base
        UNION ALL
        SELECT seq + 10000000, client, reqid, op, key, value
        FROM base WHERE reqid % 17 = 0
    ),
    oplog AS (
        SELECT seq, client, reqid, op, key, value FROM (
            SELECT *, row_number() OVER (PARTITION BY client, reqid
                                         ORDER BY seq) AS rn
            FROM raw
        ) WHERE rn = 1
    )
"""


@declare(
    "kv_fold_state",
    _OPLOG
    + """
    , ops AS (SELECT * FROM oplog WHERE op IN ('put','append')),
    lp AS (SELECT key, max(seq) FILTER (WHERE op = 'put') AS last_put
           FROM ops GROUP BY key)
    SELECT key, string_agg(value, '' ORDER BY seq) AS state
    FROM ops JOIN lp USING (key)
    WHERE seq >= coalesce(last_put, -1)
    GROUP BY key
    """,
)
def q_kv_fold(spark, sf_dir):
    """O19+O20+O21 — models/kv.go:40-54 fold, at-most-once dedup."""
    return kv.fold_state(kv.synth_oplog(load_table(spark, sf_dir, "events")))


@declare(
    "kv_compacted_fold",
    _OPLOG
    + """
    , ops AS (SELECT * FROM oplog WHERE op IN ('put','append')),
    lp AS (SELECT key, max(seq) FILTER (WHERE op = 'put') AS last_put
           FROM ops GROUP BY key)
    SELECT key, string_agg(value, '' ORDER BY seq) AS state
    FROM ops JOIN lp USING (key)
    WHERE seq >= coalesce(last_put, -1)
    GROUP BY key
    """,
)
def q_kv_compacted_fold(spark, sf_dir):
    """Log compaction equivalence (the Raft-snapshot contract the
    reference leaves unimplemented — persister.go:53-58 — but kvraft
    3B tests specify): fold over compact(log, S) must equal the fold
    over the full log, so the oracle IS the full-log fold. S is the
    midpoint of the seq range (computed with one min/max action);
    the compacted store is O(live keys) + tail instead of O(ops)."""
    oplog = kv.dedup_at_most_once(
        kv.synth_oplog(load_table(spark, sf_dir, "events"))
    )
    lo, hi = oplog.selectExpr("min(seq)", "max(seq)").first()
    compacted = kv.compact_oplog(oplog, (lo + hi) // 2)
    return kv.fold_state(compacted)


@declare(
    "kv_get_results",
    _OPLOG
    + """
    , grp AS (
        SELECT *,
               count(*) FILTER (WHERE op = 'put') OVER (
                   PARTITION BY key ORDER BY seq
                   ROWS UNBOUNDED PRECEDING) AS put_grp
        FROM oplog
    ),
    st AS (
        SELECT *,
               string_agg(value, '') OVER (
                   PARTITION BY key, put_grp ORDER BY seq
                   ROWS UNBOUNDED PRECEDING) AS state
        FROM grp
    )
    SELECT seq, key, coalesce(state, '') AS val
    FROM st WHERE op = 'get'
    """,
)
def q_kv_get(spark, sf_dir):
    """O18 — linearizable Get at its log position (kvraft/client.go:29-45)."""
    return kv.get_results(kv.synth_oplog(load_table(spark, sf_dir, "events")))


@declare(
    "kv_shard_stats",
    _OPLOG
    + """
    SELECT ascii(substr(key, 1, 1)) % 10 AS shard,
           count(*) AS n_ops,
           count(DISTINCT key) AS n_keys
    FROM oplog
    GROUP BY 1
    """,
)
def q_shard_stats(spark, sf_dir):
    """O22 — shardkv/client.go:22-29 key2shard routing."""
    return kv.shard_stats(
        kv.dedup_at_most_once(kv.synth_oplog(load_table(spark, sf_dir, "events")))
    )


@declare(
    "kv_epoch_serving",
    _OPLOG
    + """
    SELECT seq // 1000 AS epoch,
           client % 3 + 1 AS gid,
           count(*) FILTER (
               WHERE (ascii(substr(key,1,1)) % 10 + seq // 1000) % 3 + 1
                     = client % 3 + 1) AS n_served,
           count(*) FILTER (
               WHERE (ascii(substr(key,1,1)) % 10 + seq // 1000) % 3 + 1
                     <> client % 3 + 1) AS n_wrong_group,
           count(DISTINCT key) FILTER (
               WHERE (ascii(substr(key,1,1)) % 10 + seq // 1000) % 3 + 1
                     = client % 3 + 1) AS n_keys_served
    FROM oplog
    GROUP BY 1, 2
    """,
)
def q_kv_epoch_serving(spark, sf_dir):
    """O24 — each key served only by its epoch's owning group;
    stale-config requests surface as ErrWrongGroup counts
    (reference shardkv/client.go:68-96)."""
    return kv.epoch_serving(kv.synth_oplog(load_table(spark, sf_dir, "events")))


@declare(
    "kv_transfer_serving",
    _OPLOG
    + """
    , t AS (
        SELECT seq // 1000 AS epoch,
               ascii(substr(key,1,1)) % 10 AS shard,
               client % 3 + 1 AS gid,
               seq % 1000 AS off
        FROM oplog),
    m AS (
        SELECT epoch, gid, shard, off,
               (shard + (epoch + (3 - shard % 3) % 3) // 3) % 3 + 1
                   AS owner,
               (epoch >= 1 AND epoch % 3 = shard % 3) AS moving,
               off < (shard + 1) * 80 AS in_window
        FROM t),
    c AS (
        SELECT epoch, gid,
               count(*) FILTER (WHERE gid = owner
                   AND (NOT moving OR NOT in_window)) AS n_served,
               count(*) FILTER (WHERE gid <> owner) AS n_wrong_group,
               count(*) FILTER (WHERE gid = owner AND moving
                   AND in_window) AS n_in_transfer,
               count(*) FILTER (WHERE gid = owner AND NOT moving)
                   AS n_unaffected_req,
               count(*) FILTER (WHERE gid = owner AND NOT moving
                   AND (NOT moving OR NOT in_window))
                   AS n_unaffected_served
        FROM m GROUP BY 1, 2)
    SELECT epoch, gid, n_served, n_wrong_group, n_in_transfer,
           n_unaffected_req, n_unaffected_served,
           CAST(CASE WHEN n_served + n_in_transfer > 0
                     THEN (1000 * n_served) // (n_served + n_in_transfer)
                     ELSE 1000 END AS BIGINT) AS avail_milli
    FROM c
    """,
)
def q_kv_transfer_serving(spark, sf_dir):
    """In-flight reconfiguration serving (r11, kv.transfer_serving;
    reference shardkv/test_test.go:817/:887 Challenge 2): per
    (epoch, contacted gid) — served / wrong-group / in-transfer
    counts under the partial-move schedule (one shard class moves
    per epoch, staggered arrivals), plus the unaffected-shard
    observables whose equality IS the Challenge2Unaffected
    invariant, and the availability fraction the transfer gap
    costs. Pure row-local schedule columns + one groupBy."""
    return kv.transfer_serving(
        kv.synth_oplog(load_table(spark, sf_dir, "events"))
    )


@declare(
    "kv_config_catchup_serving",
    _OPLOG
    + """
    , t AS (
        SELECT seq // 1000 AS epoch,
               seq % 1000 AS off,
               ascii(substr(key,1,1)) % 10 AS shard,
               client % 3 + 1 AS gid
        FROM oplog),
    m AS (
        SELECT epoch, off, gid,
               (shard + epoch) % 3 + 1 AS owner,
               2 * gid AS st, 3 * gid - 1 AS en, 3 * gid AS ret
        FROM t),
    f AS (
        SELECT epoch, gid, st, ret,
               (epoch >= st AND epoch <= en) AS offline,
               (epoch = ret AND off < (ret - st + 1) * 100) AS catchup,
               (gid = owner) AS routed
        FROM m),
    c AS (
        SELECT epoch, gid,
               max(CASE WHEN offline THEN epoch - st + 1
                        WHEN epoch = ret THEN ret - st + 1
                        ELSE 0 END) AS configs_behind,
               count(*) FILTER (WHERE offline) AS n_dropped_offline,
               count(*) FILTER (WHERE catchup) AS n_rejected_stale,
               count(*) FILTER (WHERE NOT offline AND NOT catchup
                                  AND routed) AS n_served,
               count(*) FILTER (WHERE NOT offline AND NOT catchup
                                  AND NOT routed) AS n_wrong_group,
               max(CASE WHEN offline THEN 0
                        WHEN epoch = ret THEN ret - st + 1
                        ELSE 1 END) AS n_applied
        FROM f GROUP BY 1, 2)
    SELECT epoch, gid,
           CAST(configs_behind AS BIGINT) AS configs_behind,
           n_dropped_offline, n_rejected_stale, n_served,
           n_wrong_group, CAST(n_applied AS BIGINT) AS n_applied,
           CAST((1000 * n_served) // (n_served + n_wrong_group
                + n_rejected_stale + n_dropped_offline) AS BIGINT)
               AS serve_milli
    FROM c
    """,
)
def q_kv_config_catchup_serving(spark, sf_dir):
    """Missed-config catch-up (r12, kv.config_catchup_serving;
    reference shardkv/test_test.go:211 TestMissChange): a group
    offline across g config changes returns with a g+1 backlog,
    applies the configs strictly in order (one per CATCHUP_STRIDE
    entries — requests in the window reject as stale), and serves
    only once caught up. Per (epoch, contacted gid): configs_behind,
    dropped/stale/served/wrong-group counts, configs applied (whose
    running sum pins no-skip in-order application), serve_milli.
    Pure row-local schedule columns + one groupBy."""
    return kv.config_catchup_serving(
        kv.synth_oplog(load_table(spark, sf_dir, "events"))
    )


@declare(
    "kv_handoff_gc_audit",
    _OPLOG
    + """
    , wr AS (
        SELECT ascii(substr(key,1,1)) % 10 AS shard, key,
               min(seq // 1000) AS minw
        FROM oplog
        WHERE op IN ('put','append')
          AND (ascii(substr(key,1,1)) % 10 + seq // 1000) % 3 + 1
              = client % 3 + 1
        GROUP BY 1, 2),
    cnt AS (SELECT shard, minw, count(*) AS c FROM wr GROUP BY 1, 2),
    mx AS (SELECT max(seq) // 1000 AS e FROM oplog),
    grid AS (
        SELECT e.epoch, s.shard
        FROM (SELECT unnest(generate_series(1, (SELECT e FROM mx)))
                  AS epoch) e,
             (SELECT unnest(generate_series(0, 9)) AS shard) s),
    cum AS (
        SELECT g.epoch, g.shard,
               coalesce(sum(c.c) FILTER (WHERE c.minw <= g.epoch - 1), 0)
                   AS cumk
        FROM grid g LEFT JOIN cnt c ON c.shard = g.shard
        GROUP BY 1, 2),
    tag AS (
        SELECT epoch, (shard + epoch) % 3 + 1 AS gid, 'own' AS role,
               cumk
        FROM cum
        UNION ALL
        SELECT epoch, (shard + epoch - 1) % 3 + 1 AS gid,
               'handoff' AS role, cumk
        FROM cum)
    SELECT epoch, gid,
           CAST(count(*) FILTER (WHERE role = 'own') AS BIGINT)
               AS n_shards_owned,
           CAST(count(*) FILTER (WHERE role = 'handoff' AND cumk > 0)
               AS BIGINT) AS n_shards_handed_off,
           CAST(coalesce(sum(cumk) FILTER (WHERE role = 'handoff'), 0)
               AS BIGINT) AS n_reap_keys
    FROM tag
    GROUP BY 1, 2
    """,
)
def q_kv_handoff_gc_audit(spark, sf_dir):
    """Shard-handoff GC obligations (r11, kv.handoff_gc_obligations;
    reference shardkv/test_test.go:663 TestChallenge1Delete): per
    (epoch, gid), shards owned vs shards handed off still carrying
    data, and the distinct keys an unreaped copy would hold — the
    storage the reference's snapshot-size budget charges a group
    that never deletes. One write-scan aggregate + a domain-grid
    fold; never a per-epoch log replay."""
    return kv.handoff_gc_obligations(
        kv.synth_oplog(load_table(spark, sf_dir, "events"))
    )


def _rebalance_oracle_sql() -> str:
    """Unrolled-CTE SQL implementation of the rebalance fold — an
    independent second implementation (window functions + list
    unnest), generated from the same fixed schedule literals as the
    Spark side. The per-step CTEs referenced more than once MUST be
    ``AS MATERIALIZED``: DuckDB inlines plain CTEs, so 7 chained
    steps each reading the previous config 3× otherwise expand into
    a 3^7-copy plan that never finishes optimizing (the SQL twin of
    the Catalyst DeduplicateRelations blowup the Spark side
    localCheckpoints away)."""
    parts = [
        "WITH c0 AS MATERIALIZED (SELECT unnest(generate_series(0, "
        f"{kv.NSHARDS - 1})) AS shard, 0 AS gid)"
    ]
    prev = "c0"
    for i, (op, arg, live) in enumerate(kv.schedule_groups(), start=1):
        cur = f"c{i}"
        if op == "move":
            shard, gid = arg
            parts.append(
                f"{cur} AS MATERIALIZED (SELECT shard, CASE WHEN shard = {shard} "
                f"THEN {gid} ELSE gid END AS gid FROM {prev})"
            )
        else:
            g = sorted(live)
            base, extra = divmod(kv.NSHARDS, len(g))
            vals = ", ".join(f"({gid})" for gid in g)
            in_list = ", ".join(str(gid) for gid in g)
            parts.append(
                f"""g{i} AS (SELECT * FROM (VALUES {vals}) t(gid)),
    held{i} AS (SELECT gid, count(*) AS held FROM {prev}
                WHERE gid IN ({in_list}) GROUP BY gid),
    caps{i} AS (
        SELECT g{i}.gid,
               {base} + CASE WHEN row_number() OVER (
                   ORDER BY coalesce(held, 0) DESC, g{i}.gid) <= {extra}
                   THEN 1 ELSE 0 END AS cap
        FROM g{i} LEFT JOIN held{i} ON g{i}.gid = held{i}.gid),
    marked{i} AS MATERIALIZED (
        SELECT p.shard, p.gid, caps{i}.cap,
               row_number() OVER (PARTITION BY p.gid ORDER BY p.shard) AS rn
        FROM {prev} p LEFT JOIN caps{i} ON p.gid = caps{i}.gid),
    keep{i} AS MATERIALIZED (SELECT shard, gid FROM marked{i}
                WHERE cap IS NOT NULL AND rn <= cap),
    orph{i} AS (SELECT shard, row_number() OVER (ORDER BY shard) AS orn
                FROM marked{i} WHERE cap IS NULL OR rn > cap),
    slots{i} AS (
        SELECT gid, row_number() OVER (ORDER BY gid, si) AS orn FROM (
            SELECT caps{i}.gid,
                   unnest(generate_series(1, cap - coalesce(kept, 0))) AS si
            FROM caps{i} LEFT JOIN (
                SELECT gid, count(*) AS kept FROM keep{i} GROUP BY gid) k
              ON caps{i}.gid = k.gid)),
    {cur} AS MATERIALIZED (SELECT shard, gid FROM keep{i}
              UNION ALL
              SELECT o.shard, s.gid FROM orph{i} o
              JOIN slots{i} s ON o.orn = s.orn)"""
            )
        prev = cur
    union = "\n        UNION ALL ".join(
        f"SELECT {i} AS cfg, shard, gid FROM c{i}"
        for i in range(len(kv.REBALANCE_SCHEDULE) + 1)
    )
    parts.append(f"hist AS ({union})")
    return (
        ",\n    ".join(parts)
        + """
    SELECT cfg, shard, CAST(gid AS INT) AS gid,
           CAST(gid <> coalesce(
               lag(gid) OVER (PARTITION BY shard ORDER BY cfg), gid) AS INT
           ) AS moved
    FROM hist
    """
    )


@declare("kv_rebalance_history", _rebalance_oracle_sql())
def q_kv_rebalance_history(spark, sf_dir):
    """O23 — shard rebalancing as a declared table→table fold:
    Join/Leave/Move schedule → per-config shard→gid assignments with
    max−min ≤ 1 and minimal moves (reference shardmaster/common.go:6-17
    RPC spec; test_test.go:35-52 balance check). The sf_dir tables are
    unused by design: shardmaster is a metadata service — its state is
    NSHARDS rows per config — while the data-scale routing of the
    actual oplog is kv_shard_stats / kv_epoch_serving."""
    return kv.rebalance_config_history(spark)


@declare(
    "kv_state_at_seq",
    _OPLOG
    + """
    , cut AS (SELECT (min(seq) + max(seq)) // 2 AS s FROM oplog),
    ops AS (
        SELECT o.* FROM oplog o, cut
        WHERE o.op IN ('put','append') AND o.seq <= cut.s
    ),
    lp AS (SELECT key, max(seq) FILTER (WHERE op = 'put') AS last_put
           FROM ops GROUP BY key)
    SELECT key, string_agg(value, '' ORDER BY seq) AS state
    FROM ops JOIN lp USING (key)
    WHERE seq >= coalesce(last_put, -1)
    GROUP BY key
    """,
)
def q_kv_state_at_seq(spark, sf_dir):
    """O21 time-travel: state snapshot as of the log midpoint — the
    point-in-time read a Raft snapshot install serves. The cutoff is
    a 1-row aggregate cross-joined (broadcast), never a driver
    collect; the fold below it is the standard last-put-prefix fold
    (state is O(live value), not O(log))."""
    from pyspark.sql import functions as F

    # dedup BEFORE the cutoff: retransmissions carry inflated seqs
    # (seq+10M), and the snapshot point must be over the logical log
    oplog = kv.dedup_at_most_once(
        kv.synth_oplog(load_table(spark, sf_dir, "events"))
    )
    cut = oplog.agg(
        # integer `div` matches the oracle's truncating `//` for ANY
        # int64 seq range; a float-floor form is exact only below
        # 2^53
        F.expr("(min(seq) + max(seq)) div 2").alias("_s")
    )
    snap = (
        oplog.crossJoin(F.broadcast(cut))
        .filter(F.col("seq") <= F.col("_s"))
        .drop("_s")
    )
    return kv.fold_state(snap)


@declare(
    "kv_put_history_scd2",
    _OPLOG
    + """
    , puts AS (SELECT key, seq, value FROM oplog WHERE op = 'put')
    SELECT key, value,
           CAST(seq AS BIGINT) AS valid_from_seq,
           CAST(coalesce(lead(seq) OVER (PARTITION BY key ORDER BY seq) - 1,
                         -1) AS BIGINT) AS valid_to_seq,
           CAST(row_number() OVER (PARTITION BY key ORDER BY seq)
                AS INTEGER) AS version
    FROM puts
    """,
)
def q_kv_put_history_scd2(spark, sf_dir):
    """O21 extension: SCD-2 validity intervals over the op-log's put
    versions — the warehouse state-history view (valid_from/valid_to
    seq range + version number per key). One key-partition window
    pass; a point query at any seq reproduces kv_state_at_seq's put
    component."""
    return kv.put_history_scd2(
        kv.dedup_at_most_once(
            kv.synth_oplog(load_table(spark, sf_dir, "events"))
        )
    )


@declare(
    "kv_state_diff",
    _OPLOG
    + """
    , cut AS (SELECT (min(seq) + max(seq)) // 2 AS s FROM oplog),
    ops1 AS (
        SELECT o.* FROM oplog o, cut
        WHERE o.op IN ('put','append') AND o.seq <= cut.s),
    lp1 AS (SELECT key, max(seq) FILTER (WHERE op = 'put') AS last_put
            FROM ops1 GROUP BY key),
    s1 AS (SELECT key, string_agg(value, '' ORDER BY seq) AS state
           FROM ops1 JOIN lp1 USING (key)
           WHERE seq >= coalesce(last_put, -1)
           GROUP BY key),
    ops2 AS (SELECT o.* FROM oplog o WHERE o.op IN ('put','append')),
    lp2 AS (SELECT key, max(seq) FILTER (WHERE op = 'put') AS last_put
            FROM ops2 GROUP BY key),
    s2 AS (SELECT key, string_agg(value, '' ORDER BY seq) AS state
           FROM ops2 JOIN lp2 USING (key)
           WHERE seq >= coalesce(last_put, -1)
           GROUP BY key)
    SELECT coalesce(s1.key, s2.key) AS key,
           CASE WHEN s1.key IS NULL THEN 'added'
                WHEN s2.key IS NULL THEN 'removed'
                WHEN s1.state = s2.state THEN 'unchanged'
                ELSE 'changed' END AS verdict,
           CAST(length(s1.state) AS BIGINT) AS len_before,
           CAST(length(s2.state) AS BIGINT) AS len_after
    FROM s1 FULL OUTER JOIN s2 ON s1.key = s2.key
    """,
)
def q_kv_state_diff(spark, sf_dir):
    """Snapshot diff: the dataset-versioning audit between two
    point-in-time reads of the same store — state at the log midpoint
    (the kv_state_at_seq snapshot) vs state at the head — with a
    per-key verdict added/removed/changed/unchanged and the value
    lengths on both sides (lengths, not values: a diff report must
    stay row-bounded even when values grow unbounded). 'removed'
    is structurally unreachable in this op-log model (no delete op)
    but belongs to the diff contract — a store with deletes reports
    it through the same column. Shape: two last-put-prefix folds
    (each O(live keys)) + one FULL OUTER join on the key — at 100 TB
    this is two snapshot reads and a key-partitioned join, never a
    log replay per key.

    Reference anchor: the reconfiguration tests diff shard contents
    across config changes (reference src/shardkv/test_test.go
    check()); this is that check as a declarative table→table op."""
    from pyspark.sql import functions as F

    # The deduped log feeds THREE consumers (the cut agg and both
    # fold_state legs); without a checkpoint each re-runs the synth
    # union + at-most-once window (r13 opt — 6 events scans → 2 in
    # the plan, one dedup window pass instead of three).
    oplog = kv.dedup_at_most_once(
        kv.synth_oplog(load_table(spark, sf_dir, "events"))
    ).localCheckpoint(eager=False)
    cut = oplog.agg(
        # integer `div` == oracle `//` unconditionally
        F.expr("(min(seq) + max(seq)) div 2").alias("_s")
    )
    snap = (
        oplog.crossJoin(F.broadcast(cut))
        .filter(F.col("seq") <= F.col("_s"))
        .drop("_s")
    )
    return kv.state_diff(kv.fold_state(snap), kv.fold_state(oplog))


@declare(
    "kv_session_guarantees",
    _OPLOG
    + f"""
    , ops AS (
        SELECT *,
               last_value(CASE WHEN op = 'put' THEN seq END
                          IGNORE NULLS) OVER (
                   PARTITION BY client, key ORDER BY seq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS own_last
        FROM oplog WHERE op IN ('put', 'get')
    ),
    pts AS (
        SELECT key, seq AS eff, 0 AS is_get, seq AS osq,
               CAST(row_number() OVER (
                   PARTITION BY key ORDER BY seq) AS BIGINT) AS pver,
               CAST(NULL AS BIGINT) AS gseq,
               CAST(NULL AS BIGINT) AS gclient,
               CAST(NULL AS BIGINT) AS replica,
               CAST(NULL AS BIGINT) AS horizon,
               CAST(NULL AS BIGINT) AS own_last_put_seq
        FROM ops WHERE op = 'put'
    ),
    gts AS (
        SELECT key,
               seq - {kv.SG_LAG}
                   * ((client + seq // {kv.SG_HOP}) % {kv.SG_REPLICAS})
                 AS eff,
               1 AS is_get, seq AS osq,
               CAST(NULL AS BIGINT) AS pver,
               seq AS gseq, client AS gclient,
               CAST((client + seq // {kv.SG_HOP}) % {kv.SG_REPLICAS}
                    AS BIGINT) AS replica,
               CAST(seq - {kv.SG_LAG}
                   * ((client + seq // {kv.SG_HOP}) % {kv.SG_REPLICAS})
                    AS BIGINT) AS horizon,
               own_last AS own_last_put_seq
        FROM ops WHERE op = 'get'
    ),
    vis AS (
        SELECT *,
               coalesce(last_value(pver IGNORE NULLS) OVER (
                   PARTITION BY key ORDER BY eff, is_get, osq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   0) AS version_seen
        FROM (SELECT * FROM pts UNION ALL SELECT * FROM gts)
    )
    SELECT gseq AS seq, gclient AS client, key, replica, horizon,
           CAST(version_seen AS BIGINT) AS version_seen,
           own_last_put_seq,
           (own_last_put_seq IS NULL
            OR own_last_put_seq <= horizon) AS ryw_ok,
           (lag(version_seen) OVER (
                PARTITION BY gclient, key ORDER BY gseq) IS NULL
            OR version_seen >= lag(version_seen) OVER (
                PARTITION BY gclient, key ORDER BY gseq)) AS mr_ok
    FROM vis WHERE is_get = 1
    """,
)
def q_kv_session_guarantees(spark, sf_dir):
    """Session-guarantee audit (r13, kv.session_guarantee_audit —
    Terry et al. 1994): read-your-writes and monotonic-reads checked
    per get against a deterministic lagged-replica serving model
    (replica = (client + seq div 250) mod 3, horizon = seq − 100·
    replica; hops regress horizons → MR hazard, lag hides own puts →
    RYW hazard). version_seen is an as-of lookup computed by the
    union + last_value(IGNORE NULLS) idiom — one key window + one
    (client, key) window, no join, no all-pairs (both guarantees are
    PER-ITEM per Terry et al.; the audit windows partition by
    (client, key)) — so the full per-read
    verdict table oracle-checks. The linearizability checker answers
    strict correctness; this quantifies the weaker-consistency
    violations a replicated read tier serves."""
    return kv.session_guarantee_audit(
        kv.synth_oplog(load_table(spark, sf_dir, "events"))
    )


def _ring_sql(n_servers: int) -> str:
    pts = kv.ring_points(n_servers)
    pos = "[" + ", ".join(str(p) for p, _ in pts) + "]"
    srv = "[" + ", ".join(str(s) for _, s in pts) + "]"
    n = len(pts)
    return f"""
    pk AS (
        SELECT key, CAST(count(*) AS BIGINT) AS n_ops,
               CAST(('0x' || substr(md5(key), 1, 12)) AS BIGINT)
                   AS key_pos
        FROM oplog GROUP BY key)
    SELECT key, key_pos,
           CAST(({srv})[
               CASE WHEN len(list_filter({pos}, p -> p >= key_pos)) = 0
                    THEN 1
                    ELSE {n} - len(list_filter({pos},
                                   p -> p >= key_pos)) + 1
               END] AS BIGINT) AS owner,
           n_ops
    FROM pk
    """


@declare("kv_consistent_ring_stats", _OPLOG + "," + _ring_sql(kv.CH_SERVERS))
def q_kv_consistent_ring_stats(spark, sf_dir):
    """Consistent-hashing placement (r13, kv.consistent_ring_stats —
    Karger et al. 1997): each key owned by the first virtual node
    clockwise on an md5 ring (5 servers x 8 vnodes, ring positions
    Python-derived constants in BOTH engines — the Bloom-tuple rule).
    The successor lookup is a map-only array expression over the
    literal ring, so placement adds ZERO shuffles at any scale; the
    contrast with key2shard's fixed mod-10 routing is that
    reconfiguration moves only the new server's arc (pinned in
    tests/test_kv.py). Placement routes the at-most-once DEDUPED
    log (the _OPLOG convention every kv entry shares)."""
    return kv.consistent_ring_stats(
        kv.dedup_at_most_once(
            kv.synth_oplog(load_table(spark, sf_dir, "events"))
        )
    )
