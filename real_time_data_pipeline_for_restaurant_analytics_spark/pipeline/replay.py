"""q145: the three-layer batch pipeline itself, replayed end to end
and fully oracled (round-8 verdict item 1).

The reference's actual product is the daily CSV→stage→clean→SCD2-dim
load (`with procedures/order_proc.sql:96-309`; SCD2 MERGE
`02 Location Entity.sql:266-345`; replay fixtures `02:350-371`). Every
piece of that chain is pytest-pinned, but until this query none of it
produced a driver value-hash. q145 does for the batch pipeline what
q144 did for streaming: a DETERMINISTIC two-day drop replay —

  day 1  full snapshot        (keys k%10 ≠ 9)
  day 2  delta: changed rows  (k%10 ∈ {0,1,2} — new zip/price +
                               modified_ts), an identical no-op row
                               (k%10 = 3, must NOT version), a
                               modified_ts-ONLY row (k%10 = 4 —
                               payload identical, only modified_ts
                               moves; MUST version, because
                               modified_ts is in the configured SCD2
                               attr set — ADVICE r10: this key class
                               forces the oracle's all-column
                               IS DISTINCT FROM and the engine's attr
                               list to AGREE on whether audit
                               timestamps participate in versioning
                               rather than coincide on it), and
                               brand-new keys (k%10 = 9, first insert
                               with eff_start = created_ts, the v3
                               `order_proc.sql:300` semantics)
  day 2  AGAIN                (rerun idempotence: the ledger must
                               skip; asserted in-query, a non-skip
                               raises)

— through the real `run_all` fan-out (O2) for THREE entities:
`location` (SCD2 + the full P3-P7 geography enrichment ladder), `menu`
(SCD2 + trim/boolean/decimal casts P8/P9), and `login_audit` (the
SCD1-only consumption FACT, C5, with the P13 device CASE, P14 datetime
parts, and P15 smart keys; NULLs ride the format's `null_if` token) —
with the other seven entity files absent (the fan-out's skip path).
The warehouse dims/facts and clean tables are then read back as
canonical digest rows and hash-checked against a DuckDB oracle that
re-derives the same two CSV days from the `customer` table and replays
every merge as CTEs (clean SCD1 upsert + dim SCD2 three-branch + SCD1
fact), including the enrichment ladders in SQL.

Determinism notes:
- source rows derive per-key from `c_custkey` (k); each day has unique
  keys by construction, so the latest-per-key dedup guard is the
  identity on this input (its tie-break semantics are pinned by
  `test_latest_per_key`, not re-tested here);
- eff dates are compared as integer DAY OFFSETS from 2024-06-01 and
  attribute payloads as md5 digests over explicitly-canonicalized
  values (epoch micros for timestamps, cents for decimals, 0/1 for
  booleans) — engine-stable forms on both sides;
- batch timestamps are pinned literals; audit columns (_stg_*, load
  ts) are intentionally NOT digested — they are per-run metadata. The
  oracle's clean-layer CTE uses the equivalent prefer-source form of
  merge_upsert (matched-and-identical keeps a row value-equal to the
  source, so the guard is invisible in values).

Scale: the replay is warehouse-shaped, not corpus-shaped — each merge
is one business-key shuffle over the day's batch plus the dim (the
cost model operators/merge.py documents); the driver runs it at sf0.01
and the bench at sf0.1 (15k keys), where wall time is dominated by the
fixed per-merge job overhead, exactly like the reference's daily task.
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.merge import apply_deletes, change_feed
from ..registry import register
from ..workdirs import replay_workdir
from . import geography as geo

# deterministic value pools — STATES is every mapped state (includes
# 'Delhi', exercising both the DL code and the New Delhi
# normalization); CITIES has 7 entries, coprime with 26, so every
# (state, city) combination occurs (capitals, UT cities, all tiers)
STATES = list(geo.STATE_CODES)
CITIES = ["Mumbai", "Jaipur", "Delhi", "Gangtok", "Chandigarh", "Puducherry", "Bhopal"]
CATEGORIES = ["Starter", "Main", "Dessert"]
AVAIL = ["true", "false", "maybe"]  # maybe → NULL via the boolean-parse CASE (P9)

_CREATED = "2024-05-01 10:00:00"
_MOD1 = "2024-06-01 08:00:00"
_MOD2 = "2024-06-02 08:00:00"
_TS1 = "2024-06-01 09:00:00"
_TS2 = "2024-06-02 09:00:00"
_TS3 = "2024-06-03 09:00:00"  # rerun: must have NO effect (ledger skip)
_BASE_DATE = "2024-06-01"
_NO_DATE = 9999  # sentinel: open version / clean layer (keeps int64 dtype)

#: Day-payload key cap (round-12 verdict item 1). A replay models the
#: reference's DAILY drop — a fixed-size batch, not a corpus-sized
#: one — so the fixture derives at most this many keys from
#: `customer` regardless of sf. At the correctness scales (sf ≤ 0.01,
#: custkeys 0..1499) the cap is a no-op (every key passes), so driver
#: hashes are unchanged; at bench sf0.1 it trims 15k keys to 3k,
#: cutting the shuffle/sort payload of ~20 fixed-overhead jobs per
#: replay. Mirrored EXACTLY in each oracle's `ks` CTE — both sides
#: always describe the same drop. Every key class (k % 10, k % 11,
#: sibling arms) is still populated hundreds of times over at the cap.
_DAY_KEYS_CAP = 3000
_KS_SQL = (
    f"ks AS (SELECT c_custkey AS k FROM customer WHERE c_custkey < {_DAY_KEYS_CAP})"
)


def _replay_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped key universe every replay fixture derives from —
    the Spark twin of :data:`_KS_SQL`."""
    return (
        load(spark, sf_dir, "customer")
        .select("c_custkey")
        .filter(F.col("c_custkey") < _DAY_KEYS_CAP)
    )


def _parallel_drops(writes: list) -> None:
    """Run the per-entity-per-day drop writes concurrently: each is an
    independent coalesce(1) CSV/JSON job into its own scratch dir, and
    the Spark scheduler overlaps concurrent actions — the drop phase
    costs one job's wall instead of four (round-12 verdict item 1)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(len(writes), 8)) as pool:
        list(pool.map(lambda w: w(), writes))


def _pick(values: list[str], k: Column, n: int) -> Column:
    return F.element_at(F.array(*[F.lit(v) for v in values]), (k % n + 1).cast("int"))


def _changed(k: Column) -> Column:
    return (k % 10).isin(0, 1, 2)


def _location_src(cust: DataFrame, day: int) -> DataFrame:
    k = F.col("c_custkey")
    zip_base = F.lit(100000) + k % 899999
    if day == 1:
        df = cust.filter(k % 10 != 9)
        zipcode, modified = zip_base, F.lit(_MOD1)
    else:
        # k%10==4: payload identical to day 1 (no zip bump), modified
        # falls through to _MOD2 — the modified_ts-only key class
        df = cust.filter((k % 10).isin(0, 1, 2, 3, 4, 9))
        zipcode = zip_base + F.when(_changed(k), 7).otherwise(0)
        modified = F.when(k % 10 == 3, _MOD1).otherwise(F.lit(_MOD2))
    return df.select(
        k.cast("string").alias("locationid"),
        _pick(STATES, k, 26).alias("state"),
        _pick(CITIES, k, 7).alias("city"),
        zipcode.cast("string").alias("zipcode"),
        F.when(k % 2 == 0, "Y").otherwise("N").alias("activeflag"),
        F.lit(_CREATED).alias("createddate"),
        modified.alias("modifieddate"),
    )


def _menu_src(cust: DataFrame, day: int) -> DataFrame:
    k = F.col("c_custkey")
    cents = F.lit(".25")
    if day == 1:
        df = cust.filter(k % 10 != 9)
        modified = F.lit(_MOD1)
    else:
        # k%10==4: same price/payload, only modified_ts moves (see
        # _location_src — pins modified_ts in the versioned attr set)
        df = cust.filter((k % 10).isin(0, 1, 2, 3, 4, 9))
        cents = F.when(_changed(k), ".75").otherwise(".25")
        modified = F.when(k % 10 == 3, _MOD1).otherwise(F.lit(_MOD2))
    return df.select(
        k.cast("string").alias("menuid"),
        (k % 97).cast("string").alias("restaurantid"),
        F.concat(F.lit("Dish "), k.cast("string")).alias("itemname"),
        F.concat(F.lit("desc "), (k % 5).cast("string")).alias("description"),
        F.concat((k % 900).cast("string"), cents).alias("price"),
        _pick(CATEGORIES, k, 3).alias("category"),
        _pick(AVAIL, k, 3).alias("availability"),
        F.when(k % 2 == 0, "Veg").otherwise("Non-Veg").alias("itemtype"),
        F.lit("4.2").alias("rating"),
        F.lit(_CREATED).alias("createddate"),
        modified.alias("modifieddate"),
    )


LOGIN_TYPES = ["App", "Web", "Social"]
DEVICES = ["iOS", "Android", "Desktop"]
_NULL = "\\N"  # the reference CSV format's null_if token (readers.py)


def _login_src(cust: DataFrame, day: int) -> DataFrame:
    """login_audit source rows (SCD1-only fact, C5): k%3 cycles the
    device CASE's three branches (iOS→Apple, Android→Android,
    Desktop+Chrome→Web / Desktop+NULL→Unknown by k%2), NULLs are the
    format's literal ``\\N`` token, and the login timestamp varies
    per key (hour/minute/second from k) so the P14/P15 date-part and
    smart-key derivations are exercised across their ranges. Day-2
    changed rows move to the next calendar day (every derived
    enrichment column changes with them)."""
    k = F.col("c_custkey")
    m3 = k % 3
    if day == 1:
        df = cust.filter(k % 10 != 9)
        date = F.lit("2024-05-01")
    else:
        df = cust.filter((k % 10).isin(0, 1, 2, 3, 9))
        date = F.when(k % 10 == 3, "2024-05-01").otherwise(F.lit("2024-05-02"))
    ts = F.concat(
        date, F.lit(" "),
        F.lpad((k % 24).cast("string"), 2, "0"), F.lit(":"),
        F.lpad((k % 60).cast("string"), 2, "0"), F.lit(":"),
        F.lpad(((k * 7) % 60).cast("string"), 2, "0"),
    )
    return df.select(
        k.cast("string").alias("loginid"),
        (k % 500).cast("string").alias("customerid"),
        _pick(LOGIN_TYPES, k, 3).alias("logintype"),
        _pick(DEVICES, k, 3).alias("deviceinterface"),
        F.when(m3 == 0, "iPhone").when(m3 == 1, "Pixel").otherwise(_NULL)
        .alias("mobiledevicename"),
        F.when((m3 == 2) & (k % 2 == 0), "Chrome").otherwise(F.lit(_NULL))
        .alias("webinterface"),
        ts.alias("lastlogin"),
    )


def _write_drop_csv(frame: DataFrame, dst: str, scratch: str) -> None:
    """One CSV FILE per entity per day (the `YYYY/M/D/<entity>.csv`
    contract, S8): write to a scratch dir, move the single part file
    into place."""
    tmp = os.path.join(scratch, "w_" + uuid.uuid4().hex)
    frame.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    part = next(f for f in sorted(os.listdir(tmp)) if f.endswith(".csv"))
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp, ignore_errors=True)


def _loc_digest() -> Column:
    return F.md5(
        F.concat_ws(
            "|",
            F.col("city"),
            F.col("state"),
            F.col("state_code"),
            F.col("is_union_territory"),
            F.col("capital_city_flag").cast("int").cast("string"),
            F.col("city_tier"),
            F.col("zip_code"),
            F.col("active_flag"),
            F.unix_micros(F.col("created_ts")).cast("string"),
            F.unix_micros(F.col("modified_ts")).cast("string"),
        )
    )


def _menu_digest() -> Column:
    return F.md5(
        F.concat_ws(
            "|",
            F.col("restaurant_id_fk").cast("string"),
            F.col("item_name"),
            F.col("description"),
            (F.col("price") * 100).cast("bigint").cast("string"),
            F.col("category"),
            F.col("availability").cast("int").cast("string"),
            F.col("item_type"),
            (F.col("rating") * 10).cast("bigint").cast("string"),
            F.unix_micros(F.col("created_ts")).cast("string"),
            F.unix_micros(F.col("modified_ts")).cast("string"),
        )
    )


def _login_digest() -> Column:
    """Nullable fields ride with explicit '-' sentinels instead of the
    concat_ws null-skip (two adjacent nullable columns could otherwise
    alias each other's values into the same digest string)."""
    return F.md5(
        F.concat_ws(
            "|",
            F.col("customer_id").cast("string"),
            F.col("login_type"),
            F.col("device_interface"),
            F.coalesce(F.col("mobile_device_name"), F.lit("-")),
            F.coalesce(F.col("web_interface"), F.lit("-")),
            F.unix_micros(F.col("last_login")).cast("string"),
            F.col("device_category"),
            F.col("is_mobile").cast("int").cast("string"),
            F.col("device_os"),
            F.col("login_hour").cast("string"),
            F.col("login_day"),
            F.col("login_month"),
            F.col("login_year").cast("string"),
            F.col("login_date_key").cast("string"),
            F.col("login_time_key").cast("string"),
        )
    )


def _digest_rows(
    df: DataFrame, entity: str, layer: str, key: str | list[str], digest: Column
) -> DataFrame:
    base = F.lit(_BASE_DATE).cast("date")
    if layer == "dim":
        eff_s = F.datediff(F.col("eff_start_date").cast("date"), base).cast("bigint")
        eff_e = F.coalesce(
            F.datediff(F.col("eff_end_date").cast("date"), base).cast("bigint"),
            F.lit(_NO_DATE).cast("bigint"),
        )
        cur = F.col("is_current")
    else:
        eff_s = F.lit(_NO_DATE).cast("bigint")
        eff_e = F.lit(_NO_DATE).cast("bigint")
        cur = F.lit(True)
    if isinstance(key, str):
        key_str = F.col(key).cast("string")
    else:  # composite business key (J3): '~'-joined, mirrored in SQL
        key_str = F.concat_ws("~", *[F.col(k).cast("string") for k in key])
    return df.select(
        F.lit(entity).alias("entity"),
        F.lit(layer).alias("layer"),
        key_str.alias("key_str"),
        eff_s.alias("eff_start_day"),
        eff_e.alias("eff_end_day"),
        cur.alias("is_current"),
        digest.alias("digest"),
    )


def _two_day_load(spark: SparkSession, sf_dir: str, name: str, family: str, legs):
    """The batch replay every pipeline query shares: write each leg's
    day-1 and day-2 drop concurrently, load day 1 at ``_TS1`` and day 2
    at ``_TS2`` through the real ``run_all`` fan-out (each must load
    exactly the legs' entities), then rerun day 2 at ``_TS3``, which
    the ledger must skip for every entity (the different batch_ts would
    otherwise stamp visible SCD2 churn). ``legs`` rows are
    ``(entity, src, writer, key, digest)``; returns the Warehouse."""
    from ..sources.paths import entity_file
    from .entities import ENTITIES
    from .runner import Warehouse, run_all

    work = replay_workdir(family)
    cust = _replay_keys(spark, sf_dir)
    day_dirs = (os.path.join(work, "drops", "2024", "6", "1"),
                os.path.join(work, "drops", "2024", "6", "2"))
    _parallel_drops([
        (lambda d=day, dd=ddir, ent=ent, src=src, writer=writer: writer(
            src(cust, d),
            entity_file(dd, ENTITIES[ent].source_file_stem, ENTITIES[ent].ext),
            work))
        for day, ddir in ((1, day_dirs[0]), (2, day_dirs[1]))
        for ent, src, writer, _key, _digest in legs
    ])

    wh = Warehouse(os.path.join(work, "wh"))
    entities = [leg[0] for leg in legs]
    r1 = run_all(spark, wh, day_dirs[0], batch_ts=F.lit(_TS1).cast("timestamp"))
    r2 = run_all(spark, wh, day_dirs[1], batch_ts=F.lit(_TS2).cast("timestamp"))
    for res, day in ((r1, 1), (r2, 2)):
        loaded = {r["entity"] for r in res if not r["skipped"]}
        if loaded != set(entities):
            expected = "{" + ", ".join(repr(e) for e in entities) + "}"
            raise RuntimeError(
                f"{name}: day-{day} fan-out loaded {loaded}, "
                f"expected exactly {expected}"
            )
    r3 = run_all(spark, wh, day_dirs[1], batch_ts=F.lit(_TS3).cast("timestamp"))
    not_skipped = [r["entity"] for r in r3 if not r["skipped"]]
    if not_skipped:
        raise RuntimeError(
            f"{name}: day-2 rerun re-processed {not_skipped} — "
            "the ledger's exactly-once contract is broken"
        )
    return wh


def _warehouse_digest(spark: SparkSession, wh, legs) -> DataFrame:
    """Digest rows of every leg's consumption table (``dim``, or
    ``fact`` for an SCD1-only entity) and clean table, in key order."""
    from .entities import ENTITIES

    frames = []
    for ent, _src, _writer, key, digest in legs:
        top = "fact" if ENTITIES[ent].scd1_only else "dim"
        frames.append(_digest_rows(wh.dim(ent).read(spark), ent, top, key, digest()))
        frames.append(_digest_rows(wh.clean(ent).read(spark), ent, "clean", key, digest()))
    return functools.reduce(DataFrame.unionByName, frames).orderBy(
        "entity", "layer", "key_str", "eff_start_day"
    )


# ---------------------------------------------------------------------------
# Oracle: re-derive the same two CSV days from `customer` and replay
# both merges as CTEs. Source CTE columns carry a `0` suffix so the
# clean CTE's output aliases can never collide with its inputs.
# ---------------------------------------------------------------------------


def _sql_str_list(values: list[str]) -> str:
    return "[" + ", ".join("'" + v.replace("'", "''") + "'" for v in values) + "]"


def _sql_in(values: list[str]) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)


def _loc_src_sql(day: int) -> str:
    if day == 1:
        filt, zip_extra, modified = "k % 10 <> 9", "", f"'{_MOD1}'"
    else:
        filt = "k % 10 IN (0, 1, 2, 3, 4, 9)"
        zip_extra = " + CASE WHEN k % 10 IN (0, 1, 2) THEN 7 ELSE 0 END"
        modified = f"CASE WHEN k % 10 = 3 THEN '{_MOD1}' ELSE '{_MOD2}' END"
    return f"""SELECT CAST(k AS VARCHAR) AS locationid0,
       ({_sql_str_list(STATES)})[CAST(k % 26 AS INT) + 1] AS state0,
       ({_sql_str_list(CITIES)})[CAST(k % 7 AS INT) + 1] AS city0,
       CAST(100000 + (k % 899999){zip_extra} AS VARCHAR) AS zipcode0,
       CASE WHEN k % 2 = 0 THEN 'Y' ELSE 'N' END AS activeflag0,
       '{_CREATED}' AS createddate0,
       {modified} AS modifieddate0
  FROM ks WHERE {filt}"""


def _menu_src_sql(day: int) -> str:
    if day == 1:
        filt, cents, modified = "k % 10 <> 9", "'.25'", f"'{_MOD1}'"
    else:
        filt = "k % 10 IN (0, 1, 2, 3, 4, 9)"
        cents = "CASE WHEN k % 10 IN (0, 1, 2) THEN '.75' ELSE '.25' END"
        modified = f"CASE WHEN k % 10 = 3 THEN '{_MOD1}' ELSE '{_MOD2}' END"
    return f"""SELECT CAST(k AS VARCHAR) AS menuid0,
       CAST(k % 97 AS VARCHAR) AS restaurantid0,
       'Dish ' || CAST(k AS VARCHAR) AS itemname0,
       'desc ' || CAST(k % 5 AS VARCHAR) AS description0,
       CAST(k % 900 AS VARCHAR) || {cents} AS price0,
       ({_sql_str_list(CATEGORIES)})[CAST(k % 3 AS INT) + 1] AS category0,
       ({_sql_str_list(AVAIL)})[CAST(k % 3 AS INT) + 1] AS availability0,
       CASE WHEN k % 2 = 0 THEN 'Veg' ELSE 'Non-Veg' END AS itemtype0,
       '4.2' AS rating0,
       '{_CREATED}' AS createddate0,
       {modified} AS modifieddate0
  FROM ks WHERE {filt}"""


def _loc_clean_sql(src_cte: str) -> str:
    """The P3-P7 enrichment ladder in SQL, mirroring _clean_location:
    state_code / UT flag / capital pairs evaluate the RAW state (the
    Delhi→New Delhi normalization applies only to the output column,
    `02 Location Entity.sql:94-180`)."""
    state_code = (
        "CASE state0 "
        + " ".join(f"WHEN '{s}' THEN '{c}'" for s, c in geo.STATE_CODES.items())
        + " ELSE NULL END"
    )
    ut = (
        f"CASE WHEN state0 IN ({_sql_in(geo.UT_STATES)}) THEN 'Y' "
        f"WHEN city0 IN ({_sql_in(geo.UT_CITIES)}) THEN 'Y' ELSE 'N' END"
    )
    capital = (
        "CASE WHEN "
        + " OR ".join(f"(state0 = '{s}' AND city0 = '{c}')" for s, c in geo.CAPITALS)
        + " THEN TRUE ELSE FALSE END"
    )
    tier = (
        f"CASE WHEN city0 IN ({_sql_in(geo.TIER1_CITIES)}) THEN 'Tier-1' "
        f"WHEN city0 IN ({_sql_in(geo.TIER2_CITIES)}) THEN 'Tier-2' "
        "ELSE 'Tier-3' END"
    )
    return f"""SELECT TRY_CAST(locationid0 AS BIGINT) AS location_id,
       city0 AS city,
       CASE WHEN state0 = 'Delhi' THEN 'New Delhi' ELSE state0 END AS state,
       {state_code} AS state_code,
       {ut} AS is_union_territory,
       {capital} AS capital_city_flag,
       {tier} AS city_tier,
       zipcode0 AS zip_code,
       activeflag0 AS active_flag,
       CAST(createddate0 AS TIMESTAMP) AS created_ts,
       CAST(modifieddate0 AS TIMESTAMP) AS modified_ts
  FROM {src_cte} WHERE locationid0 IS NOT NULL"""


def _menu_clean_sql(src_cte: str) -> str:
    return f"""SELECT TRY_CAST(menuid0 AS INT) AS menu_id,
       TRY_CAST(restaurantid0 AS INT) AS restaurant_id_fk,
       TRIM(itemname0) AS item_name,
       TRIM(description0) AS description,
       TRY_CAST(price0 AS DECIMAL(10,2)) AS price,
       TRIM(category0) AS category,
       CASE WHEN LOWER(TRIM(availability0)) = 'true' THEN TRUE
            WHEN LOWER(TRIM(availability0)) = 'false' THEN FALSE
            ELSE NULL END AS availability,
       TRIM(itemtype0) AS item_type,
       TRY_CAST(rating0 AS DECIMAL(2,1)) AS rating,
       CAST(createddate0 AS TIMESTAMP) AS created_ts,
       CAST(modifieddate0 AS TIMESTAMP) AS modified_ts
  FROM {src_cte} WHERE menuid0 IS NOT NULL"""


def _login_src_sql(day: int) -> str:
    if day == 1:
        filt, date = "k % 10 <> 9", "'2024-05-01'"
    else:
        filt = "k % 10 IN (0, 1, 2, 3, 9)"
        date = "CASE WHEN k % 10 = 3 THEN '2024-05-01' ELSE '2024-05-02' END"
    return f"""SELECT CAST(k AS VARCHAR) AS loginid0,
       CAST(k % 500 AS VARCHAR) AS customerid0,
       ({_sql_str_list(LOGIN_TYPES)})[CAST(k % 3 AS INT) + 1] AS logintype0,
       ({_sql_str_list(DEVICES)})[CAST(k % 3 AS INT) + 1] AS deviceinterface0,
       CASE WHEN k % 3 = 0 THEN 'iPhone' WHEN k % 3 = 1 THEN 'Pixel'
            ELSE NULL END AS mobiledevicename0,
       CASE WHEN k % 3 = 2 AND k % 2 = 0 THEN 'Chrome' ELSE NULL END AS webinterface0,
       {date} || ' ' || lpad(CAST(k % 24 AS VARCHAR), 2, '0') || ':'
              || lpad(CAST(k % 60 AS VARCHAR), 2, '0') || ':'
              || lpad(CAST((k * 7) % 60 AS VARCHAR), 2, '0') AS lastlogin0
  FROM ks WHERE {filt}"""


def _login_clean_sql(src_cte: str) -> str:
    """The P13 device CASE + P14 datetime parts + P15 smart keys in
    SQL, mirroring _clean_login_audit (`login-audit_proc.sql:122-165`):
    web branch requires non-null AND non-empty WebInterface; is_mobile
    is device-or-named-handset."""
    web_ok = "webinterface0 IS NOT NULL AND webinterface0 <> ''"
    return f"""SELECT TRY_CAST(loginid0 AS BIGINT) AS login_id,
       TRY_CAST(customerid0 AS BIGINT) AS customer_id,
       logintype0 AS login_type,
       deviceinterface0 AS device_interface,
       mobiledevicename0 AS mobile_device_name,
       webinterface0 AS web_interface,
       CAST(lastlogin0 AS TIMESTAMP) AS last_login,
       CASE WHEN deviceinterface0 = 'iOS' THEN 'Apple'
            WHEN deviceinterface0 = 'Android' THEN 'Android'
            WHEN {web_ok} THEN 'Web' ELSE 'Unknown' END AS device_category,
       CASE WHEN deviceinterface0 IN ('iOS', 'Android')
              OR mobiledevicename0 IS NOT NULL THEN TRUE
            ELSE FALSE END AS is_mobile,
       CASE WHEN deviceinterface0 = 'iOS' THEN 'iOS'
            WHEN deviceinterface0 = 'Android' THEN 'Android'
            WHEN {web_ok} THEN 'Web' ELSE 'Unknown' END AS device_os,
       CAST(hour(CAST(lastlogin0 AS TIMESTAMP)) AS INT) AS login_hour,
       strftime(CAST(lastlogin0 AS TIMESTAMP), '%a') AS login_day,
       strftime(CAST(lastlogin0 AS TIMESTAMP), '%b') AS login_month,
       CAST(year(CAST(lastlogin0 AS TIMESTAMP)) AS INT) AS login_year,
       CAST(strftime(CAST(lastlogin0 AS TIMESTAMP), '%Y%m%d') AS BIGINT) AS login_date_key,
       CAST(strftime(CAST(lastlogin0 AS TIMESTAMP), '%H%M%S') AS BIGINT) AS login_time_key
  FROM {src_cte} WHERE loginid0 IS NOT NULL"""


def _merge_replay_sql(e: str, key: str | list[str], cols: list[str]) -> str:
    """Generic two-merge CTE replay for one entity: SCD2 three-branch
    (close-out / new-version / first-insert-from-created, mirroring
    apply_scd2 and `02 Location Entity.sql:266-345`) plus the clean
    SCD1 upsert in prefer-source form. A list ``key`` replays the J3
    composite-business-key MERGE (`10 Order Item.sql:91-93`) with
    EXISTS-correlated membership in place of single-column IN."""
    if not isinstance(key, str):
        return _merge_replay_sql_composite(e, list(key), cols)
    attrs = [c for c in cols if c != key]
    collist = ", ".join(cols)
    t_collist = ", ".join(f"t.{c}" for c in cols)
    s_collist = ", ".join(f"s.{c}" for c in cols)
    diff = " OR ".join(f"t.{a} IS DISTINCT FROM s.{a}" for a in attrs)
    return f"""{e}_dim1 AS (
  SELECT {collist}, created_ts AS eff_start_date,
         CAST(NULL AS TIMESTAMP) AS eff_end_date, TRUE AS is_current
  FROM {e}_clean1
),
{e}_chg AS (
  SELECT s.{key} AS k FROM {e}_clean2 s JOIN {e}_dim1 t ON s.{key} = t.{key}
  WHERE {diff}
),
{e}_new AS (
  SELECT s.{key} AS k FROM {e}_clean2 s LEFT JOIN {e}_dim1 t ON s.{key} = t.{key}
  WHERE t.{key} IS NULL
),
{e}_kept AS (
  SELECT {t_collist}, t.eff_start_date,
         CASE WHEN t.{key} IN (SELECT k FROM {e}_chg)
              THEN TIMESTAMP '{_TS2}' ELSE t.eff_end_date END AS eff_end_date,
         CASE WHEN t.{key} IN (SELECT k FROM {e}_chg)
              THEN FALSE ELSE t.is_current END AS is_current
  FROM {e}_dim1 t
),
{e}_ins AS (
  SELECT {s_collist},
         CASE WHEN s.{key} IN (SELECT k FROM {e}_new)
              THEN s.created_ts ELSE TIMESTAMP '{_TS2}' END AS eff_start_date,
         CAST(NULL AS TIMESTAMP) AS eff_end_date, TRUE AS is_current
  FROM {e}_clean2 s
  WHERE s.{key} IN (SELECT k FROM {e}_chg) OR s.{key} IN (SELECT k FROM {e}_new)
),
{e}_dim2 AS (SELECT * FROM {e}_kept UNION ALL SELECT * FROM {e}_ins),
{e}_cleanF AS (
  SELECT {collist} FROM {e}_clean2
  UNION ALL
  SELECT {collist} FROM {e}_clean1 t
  WHERE t.{key} NOT IN (SELECT {key} FROM {e}_clean2)
)"""


def _merge_replay_sql_composite(e: str, keys: list[str], cols: list[str]) -> str:
    """The composite-key (J3) flavor of :func:`_merge_replay_sql`:
    every key-membership test becomes a correlated EXISTS over the full
    key tuple, so two rows sharing a prefix of the key (same
    order_item_id, different menuitem_id_fk) version independently —
    exactly the `10 Order Item.sql:91-93` three-column ON clause."""
    attrs = [c for c in cols if c not in keys]
    collist = ", ".join(cols)
    t_collist = ", ".join(f"t.{c}" for c in cols)
    s_collist = ", ".join(f"s.{c}" for c in cols)
    diff = " OR ".join(f"t.{a} IS DISTINCT FROM s.{a}" for a in attrs)
    jon = " AND ".join(f"s.{k} = t.{k}" for k in keys)

    def ex(cte: str, alias: str) -> str:
        cond = " AND ".join(f"c.{k} = {alias}.{k}" for k in keys)
        return f"EXISTS (SELECT 1 FROM {cte} c WHERE {cond})"

    return f"""{e}_dim1 AS (
  SELECT {collist}, created_ts AS eff_start_date,
         CAST(NULL AS TIMESTAMP) AS eff_end_date, TRUE AS is_current
  FROM {e}_clean1
),
{e}_chg AS (
  SELECT {', '.join(f's.{k}' for k in keys)} FROM {e}_clean2 s
  JOIN {e}_dim1 t ON {jon} WHERE {diff}
),
{e}_new AS (
  SELECT {', '.join(f's.{k}' for k in keys)} FROM {e}_clean2 s
  LEFT JOIN {e}_dim1 t ON {jon} WHERE t.{keys[0]} IS NULL
),
{e}_kept AS (
  SELECT {t_collist}, t.eff_start_date,
         CASE WHEN {ex(f'{e}_chg', 't')}
              THEN TIMESTAMP '{_TS2}' ELSE t.eff_end_date END AS eff_end_date,
         CASE WHEN {ex(f'{e}_chg', 't')}
              THEN FALSE ELSE t.is_current END AS is_current
  FROM {e}_dim1 t
),
{e}_ins AS (
  SELECT {s_collist},
         CASE WHEN {ex(f'{e}_new', 's')}
              THEN s.created_ts ELSE TIMESTAMP '{_TS2}' END AS eff_start_date,
         CAST(NULL AS TIMESTAMP) AS eff_end_date, TRUE AS is_current
  FROM {e}_clean2 s
  WHERE {ex(f'{e}_chg', 's')} OR {ex(f'{e}_new', 's')}
),
{e}_dim2 AS (SELECT * FROM {e}_kept UNION ALL SELECT * FROM {e}_ins),
{e}_cleanF AS (
  SELECT {collist} FROM {e}_clean2
  UNION ALL
  SELECT {collist} FROM {e}_clean1 t
  WHERE NOT EXISTS (SELECT 1 FROM {e}_clean2 c
                    WHERE {' AND '.join(f'c.{k} = t.{k}' for k in keys)})
)"""


_LOC_DIGEST_SQL = (
    "md5(concat_ws('|', city, state, state_code, is_union_territory, "
    "CAST(CAST(capital_city_flag AS INT) AS VARCHAR), city_tier, zip_code, "
    "active_flag, CAST(epoch_us(created_ts) AS VARCHAR), "
    "CAST(epoch_us(modified_ts) AS VARCHAR)))"
)
_MENU_DIGEST_SQL = (
    "md5(concat_ws('|', CAST(restaurant_id_fk AS VARCHAR), item_name, "
    "description, CAST(CAST(price * 100 AS BIGINT) AS VARCHAR), category, "
    "CAST(CAST(availability AS INT) AS VARCHAR), item_type, "
    "CAST(CAST(rating * 10 AS BIGINT) AS VARCHAR), "
    "CAST(epoch_us(created_ts) AS VARCHAR), "
    "CAST(epoch_us(modified_ts) AS VARCHAR)))"
)


def _digest_rows_sql(
    e: str,
    entity: str,
    key: str | list[str],
    digest: str,
    dim_table: str | None = None,
    clean_table: str | None = None,
) -> str:
    """``dim_table``/``clean_table`` override the merge chain's default
    final CTEs (``{e}_dim2``/``{e}_cleanF``) — used by replays that
    append further legs after the two-day merge (q147's day-3 DELETE
    close-out digests ``da_dim3``/``da_cleanP``)."""
    dim_table = dim_table or f"{e}_dim2"
    clean_table = clean_table or f"{e}_cleanF"
    eff_s = f"CAST(date_diff('day', DATE '{_BASE_DATE}', CAST(eff_start_date AS DATE)) AS BIGINT)"
    eff_e = (
        f"CAST(COALESCE(date_diff('day', DATE '{_BASE_DATE}', "
        f"CAST(eff_end_date AS DATE)), {_NO_DATE}) AS BIGINT)"
    )
    if not isinstance(key, str):  # composite key: '~'-joined, as in _digest_rows
        key = "concat_ws('~', " + ", ".join(f"CAST({k} AS VARCHAR)" for k in key) + ")"
        return f"""SELECT '{entity}' AS entity, 'dim' AS layer,
       {key} AS key_str,
       {eff_s} AS eff_start_day, {eff_e} AS eff_end_day,
       is_current, {digest} AS digest
  FROM {dim_table}
UNION ALL
SELECT '{entity}', 'clean', {key},
       CAST({_NO_DATE} AS BIGINT), CAST({_NO_DATE} AS BIGINT), TRUE, {digest}
  FROM {clean_table}"""
    return f"""SELECT '{entity}' AS entity, 'dim' AS layer,
       CAST({key} AS VARCHAR) AS key_str,
       {eff_s} AS eff_start_day, {eff_e} AS eff_end_day,
       is_current, {digest} AS digest
  FROM {dim_table}
UNION ALL
SELECT '{entity}', 'clean', CAST({key} AS VARCHAR),
       CAST({_NO_DATE} AS BIGINT), CAST({_NO_DATE} AS BIGINT), TRUE, {digest}
  FROM {clean_table}"""


_LOC_COLS = [
    "location_id", "city", "state", "state_code", "is_union_territory",
    "capital_city_flag", "city_tier", "zip_code", "active_flag",
    "created_ts", "modified_ts",
]
_MENU_COLS = [
    "menu_id", "restaurant_id_fk", "item_name", "description", "price",
    "category", "availability", "item_type", "rating",
    "created_ts", "modified_ts",
]

_LOGIN_DIGEST_SQL = (
    "md5(concat_ws('|', CAST(customer_id AS VARCHAR), login_type, "
    "device_interface, COALESCE(mobile_device_name, '-'), "
    "COALESCE(web_interface, '-'), CAST(epoch_us(last_login) AS VARCHAR), "
    "device_category, CAST(CAST(is_mobile AS INT) AS VARCHAR), device_os, "
    "CAST(login_hour AS VARCHAR), login_day, login_month, "
    "CAST(login_year AS VARCHAR), CAST(login_date_key AS VARCHAR), "
    "CAST(login_time_key AS VARCHAR)))"
)

# login_audit is SCD1-only (C5): both its clean table and its
# consumption FACT converge to the same prefer-source final state
# (unique keys per day; the change guard is value-invisible), so the
# oracle replays ONE final-state CTE and emits it under both layer
# labels — the Spark side still reads the two PHYSICAL tables written
# by two separate merge calls, so either path corrupting breaks the
# hash independently.
_LOGIN_FINAL_SQL = """la_final AS (
  SELECT * FROM la_clean2
  UNION ALL
  SELECT * FROM la_clean1 t
  WHERE t.login_id NOT IN (SELECT login_id FROM la_clean2)
)"""

_LOGIN_ROWS_SQL = f"""SELECT 'login_audit' AS entity, lyr.l AS layer,
       CAST(login_id AS VARCHAR) AS key_str,
       CAST({_NO_DATE} AS BIGINT) AS eff_start_day,
       CAST({_NO_DATE} AS BIGINT) AS eff_end_day,
       TRUE AS is_current, {_LOGIN_DIGEST_SQL} AS digest
  FROM la_final, (SELECT unnest(['clean', 'fact']) AS l) lyr"""

_PIPELINE_LEGS = (
    ("location", _location_src, _write_drop_csv, "location_id", _loc_digest),
    ("menu", _menu_src, _write_drop_csv, "menu_id", _menu_digest),
    ("login_audit", _login_src, _write_drop_csv, "login_id", _login_digest),
)

_REPLAY_ORACLE = f"""WITH {_KS_SQL},
loc_src1 AS ({_loc_src_sql(1)}),
loc_src2 AS ({_loc_src_sql(2)}),
loc_clean1 AS ({_loc_clean_sql('loc_src1')}),
loc_clean2 AS ({_loc_clean_sql('loc_src2')}),
{_merge_replay_sql('loc', 'location_id', _LOC_COLS)},
menu_src1 AS ({_menu_src_sql(1)}),
menu_src2 AS ({_menu_src_sql(2)}),
menu_clean1 AS ({_menu_clean_sql('menu_src1')}),
menu_clean2 AS ({_menu_clean_sql('menu_src2')}),
{_merge_replay_sql('menu', 'menu_id', _MENU_COLS)},
la_src1 AS ({_login_src_sql(1)}),
la_src2 AS ({_login_src_sql(2)}),
la_clean1 AS ({_login_clean_sql('la_src1')}),
la_clean2 AS ({_login_clean_sql('la_src2')}),
{_LOGIN_FINAL_SQL}
SELECT * FROM (
{_digest_rows_sql('loc', 'location', 'location_id', _LOC_DIGEST_SQL)}
UNION ALL
{_digest_rows_sql('menu', 'menu', 'menu_id', _MENU_DIGEST_SQL)}
UNION ALL
{_LOGIN_ROWS_SQL}
) ORDER BY entity, layer, key_str, eff_start_day"""


@register(
    "q145_pipeline_replay",
    oracle=_REPLAY_ORACLE,
    doc="The three-layer batch pipeline replayed end to end and fully "
    "oracled: a deterministic two-day CSV drop (day-1 full snapshot, "
    "day-2 delta with changed/no-op/modified_ts-only/new keys — the "
    "modified_ts-only class pins that audit timestamps participate in "
    "SCD2 versioning on BOTH engine and oracle, ADVICE r10) derived "
    "from the "
    "customer table runs through the REAL run_all fan-out for THREE "
    "entities — location (geography-enrichment SCD2), menu (cast-heavy "
    "SCD2), and login_audit (SCD1-only fact with the P13 device CASE + "
    "P14/P15 datetime enrichment, NULLs via the format's null_if "
    "token) — stage ledger, clean SCD1 upsert, SCD2 three-branch dim "
    "merge, SCD1 fact merge — then the warehouse is read back as "
    "canonical digest rows "
    "(eff dates as day offsets, payload md5 over canonicalized attrs) "
    "and hash-checked against a DuckDB oracle replaying both merges as "
    "CTEs. Day-2 is then re-run and must be a ledger no-op (asserted "
    "in-query). Reference: the product itself — "
    "`with procedures/order_proc.sql:96-309`, SCD2 MERGE "
    "`02 Location Entity.sql:266-345`, replay fixtures `02:350-371`.",
)
def q145_pipeline_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = _two_day_load(
        spark, sf_dir, "q145_pipeline_replay", "pipeline_replay", _PIPELINE_LEGS
    )
    return _warehouse_digest(spark, wh, _PIPELINE_LEGS)


# ---------------------------------------------------------------------------
# q147: the JSON-sourced entity under the same end-to-end oracle
# (round-9 verdict item 1). delivery_agent is the reference's one JSON
# stage source (`delivery_agent_proc.sql:98-154`): `$1:Field::text`
# path extraction binds by case-insensitive NAME (S3), the drop
# repeats rows so the C6 DISTINCT-before-merge guard is load-bearing,
# and the dim is a regular SCD2. The fixture therefore:
#
#   - writes the JSON with CamelCase field names (DeliveryAgentID,
#     Full_Name, ...) so the case-insensitive bind is exercised, and
#     leaves gender ABSENT (not null-valued) on k%11==0 rows — the
#     missing-field→NULL binding path;
#   - duplicates every k%4==0 row IN THE FILE (both days); an
#     in-query assertion proves the duplicates physically reached the
#     stage layer, and the value hash proves exactly one row per key
#     survived to clean/dim;
#   - uses ISO-T timestamps (2024-05-01T10:00:00) — the parse_ts
#     format ladder's second branch, cast identically by DuckDB;
#   - day-2 carries the same changed / no-op / modified_ts-only / new
#     key classes as q145, plus the rerun-idempotence ledger check.
# ---------------------------------------------------------------------------

VEHICLES = ["Bike", "Scooter", "Cycle"]
GENDERS = ["M", "F", "Other"]
_DA_CREATED = "2024-05-01T10:00:00"
_DA_MOD1 = "2024-06-01T08:00:00"
_DA_MOD2 = "2024-06-02T08:00:00"


def _da_src(cust: DataFrame, day: int) -> DataFrame:
    k = F.col("c_custkey")
    vehicle = _pick(VEHICLES, k, 3)
    if day == 1:
        df = cust.filter(k % 10 != 9)
        modified = F.lit(_DA_MOD1)
    else:
        df = cust.filter((k % 10).isin(0, 1, 2, 3, 4, 9))
        vehicle = F.when(_changed(k), _pick(VEHICLES, k + 1, 3)).otherwise(vehicle)
        modified = F.when(k % 10 == 3, _DA_MOD1).otherwise(F.lit(_DA_MOD2))

    def sel(frame: DataFrame) -> DataFrame:
        # CamelCase field names on purpose: read_stage_json binds the
        # spec's lowercase source_columns case-insensitively (S3)
        return frame.select(
            k.cast("string").alias("DeliveryAgentID"),
            F.concat(F.lit("  Agent "), k.cast("string"), F.lit(" ")).alias("Full_Name"),
            F.concat(F.lit("a"), k.cast("string"), F.lit("@x.com")).alias("Email"),
            (k + 1000000).cast("string").alias("Mobile_No"),
            vehicle.alias("VehicleType"),
            (k % 200).cast("string").alias("LocationID"),
            F.when(k % 2 == 0, "Active").otherwise("Inactive").alias("Status"),
            # NULL gender rows: the JSON writer OMITS null fields, so
            # these rows physically lack the key — the absent-field
            # binding path, not a literal null
            F.when(k % 11 == 0, F.lit(None).cast("string"))
            .otherwise(_pick(GENDERS, k, 3))
            .alias("Gender"),
            F.concat(
                (k % 4 + 1).cast("string"), F.lit("."),
                F.lpad((k % 100).cast("string"), 2, "0"),
            ).alias("Rating"),
            F.lit(_DA_CREATED).alias("CreatedDate"),
            modified.alias("ModifiedDate"),
        )

    # the C6 fixture: every k%4==0 row appears TWICE in the drop file
    return sel(df).unionByName(sel(df.filter(k % 4 == 0)))


def _write_drop_json(frame: DataFrame, dst: str, scratch: str) -> None:
    """One JSON FILE per entity per day (S8), same move as
    :func:`_write_drop_csv` for the CSV legs."""
    tmp = os.path.join(scratch, "w_" + uuid.uuid4().hex)
    frame.coalesce(1).write.mode("overwrite").json(tmp)
    part = next(f for f in sorted(os.listdir(tmp)) if f.endswith(".json"))
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp, ignore_errors=True)


def _da_digest() -> Column:
    return F.md5(
        F.concat_ws(
            "|",
            F.col("full_name"),
            F.col("email"),
            F.col("mobile_no"),
            F.col("vehicle_type"),
            F.col("location_id_fk").cast("string"),
            F.col("status"),
            F.coalesce(F.col("gender"), F.lit("-")),
            (F.col("rating") * 100).cast("bigint").cast("string"),
            F.unix_micros(F.col("created_ts")).cast("string"),
            F.unix_micros(F.col("modified_ts")).cast("string"),
        )
    )


def _da_src_sql(day: int) -> str:
    vehicles = _sql_str_list(VEHICLES)
    genders = _sql_str_list(GENDERS)
    if day == 1:
        filt = "k % 10 <> 9"
        vehicle = f"({vehicles})[CAST(k % 3 AS INT) + 1]"
        modified = f"'{_DA_MOD1}'"
    else:
        filt = "k % 10 IN (0, 1, 2, 3, 4, 9)"
        vehicle = (
            f"CASE WHEN k % 10 IN (0, 1, 2) THEN ({vehicles})[CAST((k + 1) % 3 AS INT) + 1] "
            f"ELSE ({vehicles})[CAST(k % 3 AS INT) + 1] END"
        )
        modified = f"CASE WHEN k % 10 = 3 THEN '{_DA_MOD1}' ELSE '{_DA_MOD2}' END"
    def arm(extra_filter: str) -> str:
        return f"""SELECT CAST(k AS VARCHAR) AS deliveryagentid0,
       '  Agent ' || CAST(k AS VARCHAR) || ' ' AS full_name0,
       'a' || CAST(k AS VARCHAR) || '@x.com' AS email0,
       CAST(k + 1000000 AS VARCHAR) AS mobile_no0,
       {vehicle} AS vehicletype0,
       CAST(k % 200 AS VARCHAR) AS locationid0,
       CASE WHEN k % 2 = 0 THEN 'Active' ELSE 'Inactive' END AS status0,
       CASE WHEN k % 11 = 0 THEN NULL
            ELSE ({genders})[CAST(k % 3 AS INT) + 1] END AS gender0,
       CAST(k % 4 + 1 AS VARCHAR) || '.' || lpad(CAST(k % 100 AS VARCHAR), 2, '0') AS rating0,
       '{_DA_CREATED}' AS createddate0,
       {modified} AS modifieddate0
  FROM ks WHERE {filt}{extra_filter}"""

    # the in-file duplicates (C6): DISTINCT in the clean CTE collapses
    # them, mirroring dropDuplicates-before-merge
    return f"{arm('')}\nUNION ALL\n{arm(' AND k % 4 = 0')}"


def _da_clean_sql(src_cte: str) -> str:
    """The v3 JSON clean transform in SQL (`delivery_agent_proc
    .sql:160-184`): DISTINCT mirrors the C6 dedup_source guard."""
    return f"""SELECT DISTINCT TRY_CAST(deliveryagentid0 AS BIGINT) AS delivery_agent_id,
       TRIM(full_name0) AS full_name,
       email0 AS email,
       mobile_no0 AS mobile_no,
       vehicletype0 AS vehicle_type,
       TRY_CAST(locationid0 AS BIGINT) AS location_id_fk,
       status0 AS status,
       gender0 AS gender,
       TRY_CAST(rating0 AS DECIMAL(4,2)) AS rating,
       CAST(createddate0 AS TIMESTAMP) AS created_ts,
       CAST(modifieddate0 AS TIMESTAMP) AS modified_ts
  FROM {src_cte} WHERE deliveryagentid0 IS NOT NULL"""


_DA_COLS = [
    "delivery_agent_id", "full_name", "email", "mobile_no", "vehicle_type",
    "location_id_fk", "status", "gender", "rating", "created_ts", "modified_ts",
]

_DA_DIGEST_SQL = (
    "md5(concat_ws('|', full_name, email, mobile_no, vehicle_type, "
    "CAST(location_id_fk AS VARCHAR), status, COALESCE(gender, '-'), "
    "CAST(CAST(rating * 100 AS BIGINT) AS VARCHAR), "
    "CAST(epoch_us(created_ts) AS VARCHAR), "
    "CAST(epoch_us(modified_ts) AS VARCHAR)))"
)

#: day-3 prune: the upstream (GDPR-style) hard delete of these key
#: classes from the CLEAN table; the standard stream then emits pure
#: DELETE actions the SCD2 dim must close out (`02 Location
#: Entity.sql:274-283`). k%10==2 closes a day-2 SECOND version,
#: k%10==5 closes an untouched day-1 first version — both close-out
#: shapes under the hash.
_DA_PRUNE_CLASSES = (2, 5)
_TS_PRUNE = "2024-06-03 12:00:00"
_PRUNE_IN = ", ".join(str(c) for c in _DA_PRUNE_CLASSES)

_JSON_ENTITY_LEGS = (
    ("delivery_agent", _da_src, _write_drop_json, "delivery_agent_id", _da_digest),
)

_DA_REPLAY_ORACLE = f"""WITH {_KS_SQL},
da_src1 AS ({_da_src_sql(1)}),
da_src2 AS ({_da_src_sql(2)}),
da_clean1 AS ({_da_clean_sql('da_src1')}),
da_clean2 AS ({_da_clean_sql('da_src2')}),
{_merge_replay_sql('da', 'delivery_agent_id', _DA_COLS)},
da_cleanP AS (
  SELECT * FROM da_cleanF WHERE delivery_agent_id % 10 NOT IN ({_PRUNE_IN})
),
da_dim3 AS (
  SELECT {', '.join(_DA_COLS)}, eff_start_date,
         CASE WHEN is_current AND delivery_agent_id % 10 IN ({_PRUNE_IN})
              THEN TIMESTAMP '{_TS_PRUNE}' ELSE eff_end_date END AS eff_end_date,
         CASE WHEN is_current AND delivery_agent_id % 10 IN ({_PRUNE_IN})
              THEN FALSE ELSE is_current END AS is_current
  FROM da_dim2
)
SELECT * FROM (
{_digest_rows_sql('da', 'delivery_agent', 'delivery_agent_id', _DA_DIGEST_SQL,
                  dim_table='da_dim3', clean_table='da_cleanP')}
) ORDER BY entity, layer, key_str, eff_start_day"""


@register(
    "q147_json_entity_replay",
    oracle=_DA_REPLAY_ORACLE,
    doc="The JSON stage-scan flavor under the q145 end-to-end oracle "
    "(round-9 verdict item 1): a deterministic two-day delivery_agent "
    "JSON drop — CamelCase field names bound case-insensitively (S3 "
    "path extraction), absent-not-null gender fields, ISO-T "
    "timestamps, and every k%4==0 row DUPLICATED in the file so the "
    "C6 DISTINCT-before-merge guard is load-bearing — runs through "
    "the REAL run_all fan-out (ledger, clean SCD1 upsert, SCD2 "
    "three-branch dim) with the same changed/no-op/modified_ts-only/"
    "new day-2 key classes as q145, then clean+dim are read back as "
    "digest rows and hash-checked against a DuckDB oracle replaying "
    "the dedup (DISTINCT) and both merges as CTEs. In-query "
    "assertions pin that the duplicates physically reached the stage "
    "layer and that a day-2 rerun is a ledger no-op. A day-3 PRUNE "
    "leg (round-12) hard-deletes the k%10 IN (2,5) classes from "
    "clean; the snapshot-diff change feed (C2) emits pure DELETE "
    "actions and apply_deletes closes those dim versions (eff_end "
    "stamped, is_current=false, history kept) — the reference's SCD2 "
    "DELETE branch (`02 Location Entity.sql:274-283`) under the "
    "driver hash, covering both close-a-second-version (k%10=2) and "
    "close-an-untouched-first-version (k%10=5) shapes. Reference: "
    "`with procedures/delivery_agent_proc.sql:98-154`.",
)
def q147_json_entity_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = _two_day_load(
        spark, sf_dir, "q147_json_entity_replay", "json_replay", _JSON_ENTITY_LEGS
    )
    cust = _replay_keys(spark, sf_dir)

    # the duplicates must have PHYSICALLY reached the stage layer —
    # otherwise "dedup collapsed them" proves nothing about C6.
    # ONE conditional-sum agg job, not four count() jobs (round 15,
    # the q164/q165 fixture-audit pattern applied here too)
    k = F.col("c_custkey")
    cnt = lambda c: F.coalesce(F.sum(c.cast("long")), F.lit(0))  # noqa: E731
    s = cust.agg(
        cnt(k % 10 != 9).alias("n1"),
        cnt((k % 10 != 9) & (k % 4 == 0)).alias("d1"),
        cnt((k % 10).isin(0, 1, 2, 3, 4, 9)).alias("n2"),
        cnt((k % 10).isin(0, 1, 2, 3, 4, 9) & (k % 4 == 0)).alias("d2"),
    ).collect()[0]
    n1, d1, n2, d2 = s["n1"], s["d1"], s["n2"], s["d2"]
    staged = spark.read.parquet(
        os.path.join(wh.stage_dir("delivery_agent"), "data")
    ).count()
    if staged != n1 + d1 + n2 + d2:
        raise RuntimeError(
            f"q147_json_entity_replay: stage layer holds {staged} rows, "
            f"expected {n1 + d1 + n2 + d2} (sources WITH in-file "
            "duplicates) — the duplicate rows never reached the stage, "
            "so the dedup guard was not exercised"
        )

    # --- day-3 prune leg (round-12 verdict item 3): an upstream hard
    # delete removes the prune classes from CLEAN; the standard stream
    # (snapshot-diff change feed, C2) emits pure DELETE actions —
    # `METADATA$ACTION='DELETE'`, isupdate=false — and the SCD2 dim
    # must CLOSE those versions (eff_end stamped, is_current=false,
    # history preserved), the reference's branch (a)
    # (`02 Location Entity.sql:274-283`). This puts apply_deletes —
    # the last merge branch outside the driver hash — under the oracle.
    key = ["delivery_agent_id"]
    prune = (F.col("delivery_agent_id") % 10).isin(*_DA_PRUNE_CLASSES)
    clean_tbl = wh.clean("delivery_agent")
    clean_tbl.write(clean_tbl.read(spark).filter(~prune))
    feed = change_feed(
        clean_tbl.read_previous(spark), clean_tbl.read(spark), key
    )
    deleted = feed.filter(
        (F.col("action") == "DELETE") & (~F.col("metadata_isupdate"))
    ).select(*key)
    dim_tbl = wh.dim("delivery_agent")
    dim_tbl.write(
        apply_deletes(
            dim_tbl.read(spark), deleted, key, F.lit(_TS_PRUNE).cast("timestamp")
        )
    )

    return _warehouse_digest(spark, wh, _JSON_ENTITY_LEGS)


# ---------------------------------------------------------------------------
# q155: the orders + order_item PAIR under the same end-to-end oracle
# (round-10 verdict item 1) — the last §2 join flavor outside the
# driver hash:
#
#   - J3, the COMPOSITE business-key MERGE: order_item merges on
#     (order_item_id, order_id_fk, menuitem_id_fk)
#     (`10 Order Item.sql:91-93`). The fixture writes TWO rows per key
#     k sharing order_item_id and order_id_fk but differing in
#     menuitem_id_fk (arms m=1 and m=2); day 2 changes ONLY the m=1
#     arm, so a merge that keyed on any prefix of the composite key
#     would either collapse the sibling rows (row-count mismatch) or
#     version the untouched m=2 arm (digest mismatch) — the
#     compositeness is load-bearing, not decorative;
#   - P16, the coupon constant-fill: k%5==0 orders carry the CSV
#     format's `\\N` null token in couponcode and must surface as
#     'Not Applied' in clean and dim (`09 Order Entity.sql:166-168`);
#   - NUMBER(10,2) decimal money through the full chain: five decimal
#     measures (three of them nullable in the raw file) digest as
#     exact cents on both engines;
#   - the same changed / no-op / modified_ts-only / new day-2 key
#     classes as q145, plus the rerun-idempotence ledger check.
# ---------------------------------------------------------------------------

ORDER_STATUSES = ["Delivered", "Cancelled", "In Transit"]
PAY_METHODS = ["UPI", "Card", "COD"]


def _orders_src(cust: DataFrame, day: int) -> DataFrame:
    k = F.col("c_custkey")
    status = _pick(ORDER_STATUSES, k, 3)
    total_cents: Column = F.lit(".50")
    final_cents: Column = F.lit(".25")
    if day == 1:
        df = cust.filter(k % 10 != 9)
        modified = F.lit(_MOD1)
    else:
        df = cust.filter((k % 10).isin(0, 1, 2, 3, 4, 9))
        total_cents = F.when(_changed(k), ".75").otherwise(".50")
        final_cents = F.when(_changed(k), ".95").otherwise(".25")
        status = F.when(_changed(k), _pick(ORDER_STATUSES, k + 1, 3)).otherwise(status)
        modified = F.when(k % 10 == 3, _MOD1).otherwise(F.lit(_MOD2))
    ts = F.concat(
        F.lit("2024-05-01 "),
        F.lpad((k % 24).cast("string"), 2, "0"), F.lit(":"),
        F.lpad((k % 60).cast("string"), 2, "0"), F.lit(":"),
        F.lpad(((k * 3) % 60).cast("string"), 2, "0"),
    )
    return df.select(
        k.cast("string").alias("orderid"),
        (k % 500).cast("string").alias("customerid"),
        (k % 97).cast("string").alias("restaurantid"),
        ts.alias("orderdate"),
        F.concat((k % 900).cast("string"), total_cents).alias("totalamount"),
        # \N → NULL (the format's null_if token): nullable decimal
        F.when(k % 7 == 0, _NULL)
        .otherwise(F.concat((k % 50).cast("string"), F.lit(".00")))
        .alias("discountamount"),
        F.concat((k % 5).cast("string"), F.lit(".25")).alias("deliverycharges"),
        F.concat((k % 900).cast("string"), final_cents).alias("finalamount"),
        status.alias("status"),
        _pick(PAY_METHODS, k, 3).alias("paymentmethod"),
        _pick(AVAIL, k, 3).alias("isfirstorder"),  # 'maybe' → NULL (P9)
        # \N coupon → 'Not Applied' in clean (P16, `09:166-168`)
        F.when(k % 5 == 0, _NULL)
        .otherwise(F.concat(F.lit("CP"), (k % 20).cast("string")))
        .alias("couponcode"),
        F.lit(_CREATED).alias("createddate"),
        modified.alias("modifieddate"),
    )


def _order_item_src(cust: DataFrame, day: int) -> DataFrame:
    """Two composite-sibling rows per key k (arms m=1/m=2 share
    order_item_id + order_id_fk, differ in menuitem_id_fk). Day-2
    change/modified-only classes touch ONLY the m=1 arm; the m=2 arm
    re-appears byte-identical (a pure no-op), pinning per-composite-row
    versioning."""
    k = F.col("c_custkey")
    if day == 1:
        df = cust.filter(k % 10 != 9)
    else:
        df = cust.filter((k % 10).isin(0, 1, 2, 3, 4, 9))

    def arm(m: int) -> DataFrame:
        qty = k % 5 + m
        modified: Column = F.lit(_MOD1)
        if day == 2 and m == 1:
            qty = qty + F.when(_changed(k), 7).otherwise(0)
            modified = F.when(k % 10 == 3, _MOD1).otherwise(F.lit(_MOD2))
        return df.select(
            k.cast("string").alias("orderitemid"),
            (k % 500).cast("string").alias("orderid"),
            F.lit(str(m)).alias("menuitemid"),
            F.concat(qty.cast("string"), F.lit(".00")).alias("quantity"),
            F.concat((k % 90).cast("string"), F.lit(".25")).alias("price"),
            F.concat(((k + m) % 100).cast("string"), F.lit(".50")).alias("subtotal"),
            F.when(k % 4 == 0, _NULL)
            .otherwise(
                F.concat((k % 5).cast("string"), F.lit("."), (k % 10).cast("string"))
            )
            .alias("ratings"),
            F.lit(_CREATED).alias("createddate"),
            modified.alias("modifieddate"),
        )

    return arm(1).unionByName(arm(2))


def _orders_digest() -> Column:
    """Nullable fields (discount_amount, is_first_order) ride with
    explicit '-' sentinels (same rationale as _login_digest)."""
    return F.md5(
        F.concat_ws(
            "|",
            F.col("customer_id_fk").cast("string"),
            F.col("restaurant_id_fk").cast("string"),
            F.unix_micros(F.col("order_date")).cast("string"),
            (F.col("total_amount") * 100).cast("bigint").cast("string"),
            F.coalesce(
                (F.col("discount_amount") * 100).cast("bigint").cast("string"),
                F.lit("-"),
            ),
            (F.col("delivery_charges") * 100).cast("bigint").cast("string"),
            (F.col("final_amount") * 100).cast("bigint").cast("string"),
            F.col("status"),
            F.col("payment_method"),
            F.coalesce(F.col("is_first_order").cast("int").cast("string"), F.lit("-")),
            F.col("coupon_code"),
            F.unix_micros(F.col("created_ts")).cast("string"),
            F.unix_micros(F.col("modified_ts")).cast("string"),
        )
    )


def _order_item_digest() -> Column:
    return F.md5(
        F.concat_ws(
            "|",
            (F.col("quantity") * 100).cast("bigint").cast("string"),
            (F.col("price") * 100).cast("bigint").cast("string"),
            (F.col("subtotal") * 100).cast("bigint").cast("string"),
            F.coalesce(
                (F.col("ratings") * 100).cast("bigint").cast("string"), F.lit("-")
            ),
            F.unix_micros(F.col("created_ts")).cast("string"),
            F.unix_micros(F.col("modified_ts")).cast("string"),
        )
    )


def _orders_src_sql(day: int) -> str:
    statuses = _sql_str_list(ORDER_STATUSES)
    if day == 1:
        filt = "k % 10 <> 9"
        total, final = "'.50'", "'.25'"
        status = f"({statuses})[CAST(k % 3 AS INT) + 1]"
        modified = f"'{_MOD1}'"
    else:
        filt = "k % 10 IN (0, 1, 2, 3, 4, 9)"
        total = "CASE WHEN k % 10 IN (0, 1, 2) THEN '.75' ELSE '.50' END"
        final = "CASE WHEN k % 10 IN (0, 1, 2) THEN '.95' ELSE '.25' END"
        status = (
            f"CASE WHEN k % 10 IN (0, 1, 2) THEN ({statuses})[CAST((k + 1) % 3 AS INT) + 1] "
            f"ELSE ({statuses})[CAST(k % 3 AS INT) + 1] END"
        )
        modified = f"CASE WHEN k % 10 = 3 THEN '{_MOD1}' ELSE '{_MOD2}' END"
    return f"""SELECT CAST(k AS VARCHAR) AS orderid0,
       CAST(k % 500 AS VARCHAR) AS customerid0,
       CAST(k % 97 AS VARCHAR) AS restaurantid0,
       '2024-05-01 ' || lpad(CAST(k % 24 AS VARCHAR), 2, '0') || ':'
                     || lpad(CAST(k % 60 AS VARCHAR), 2, '0') || ':'
                     || lpad(CAST((k * 3) % 60 AS VARCHAR), 2, '0') AS orderdate0,
       CAST(k % 900 AS VARCHAR) || {total} AS totalamount0,
       CASE WHEN k % 7 = 0 THEN NULL
            ELSE CAST(k % 50 AS VARCHAR) || '.00' END AS discountamount0,
       CAST(k % 5 AS VARCHAR) || '.25' AS deliverycharges0,
       CAST(k % 900 AS VARCHAR) || {final} AS finalamount0,
       {status} AS status0,
       ({_sql_str_list(PAY_METHODS)})[CAST(k % 3 AS INT) + 1] AS paymentmethod0,
       ({_sql_str_list(AVAIL)})[CAST(k % 3 AS INT) + 1] AS isfirstorder0,
       CASE WHEN k % 5 = 0 THEN NULL
            ELSE 'CP' || CAST(k % 20 AS VARCHAR) END AS couponcode0,
       '{_CREATED}' AS createddate0,
       {modified} AS modifieddate0
  FROM ks WHERE {filt}"""


def _orders_clean_sql(src_cte: str) -> str:
    """`order_proc` clean transform in SQL, incl. the P16 coupon
    constant-fill as COALESCE (the reference's post-load UPDATE
    `09 Order Entity.sql:166-168` folded into the transform, exactly
    like _clean_orders)."""
    return f"""SELECT TRY_CAST(orderid0 AS BIGINT) AS order_id,
       TRY_CAST(customerid0 AS BIGINT) AS customer_id_fk,
       TRY_CAST(restaurantid0 AS BIGINT) AS restaurant_id_fk,
       CAST(orderdate0 AS TIMESTAMP) AS order_date,
       TRY_CAST(totalamount0 AS DECIMAL(10,2)) AS total_amount,
       TRY_CAST(discountamount0 AS DECIMAL(10,2)) AS discount_amount,
       TRY_CAST(deliverycharges0 AS DECIMAL(10,2)) AS delivery_charges,
       TRY_CAST(finalamount0 AS DECIMAL(10,2)) AS final_amount,
       status0 AS status,
       paymentmethod0 AS payment_method,
       CASE WHEN LOWER(TRIM(isfirstorder0)) = 'true' THEN TRUE
            WHEN LOWER(TRIM(isfirstorder0)) = 'false' THEN FALSE
            ELSE NULL END AS is_first_order,
       COALESCE(couponcode0, 'Not Applied') AS coupon_code,
       CAST(createddate0 AS TIMESTAMP) AS created_ts,
       CAST(modifieddate0 AS TIMESTAMP) AS modified_ts
  FROM {src_cte} WHERE orderid0 IS NOT NULL"""


def _order_item_arm_sql(day: int, m: int) -> str:
    if day == 1:
        filt = "k % 10 <> 9"
    else:
        filt = "k % 10 IN (0, 1, 2, 3, 4, 9)"
    qty = f"k % 5 + {m}"
    modified = f"'{_MOD1}'"
    if day == 2 and m == 1:
        qty = f"k % 5 + {m} + CASE WHEN k % 10 IN (0, 1, 2) THEN 7 ELSE 0 END"
        modified = f"CASE WHEN k % 10 = 3 THEN '{_MOD1}' ELSE '{_MOD2}' END"
    return f"""SELECT CAST(k AS VARCHAR) AS orderitemid0,
       CAST(k % 500 AS VARCHAR) AS orderid0,
       '{m}' AS menuitemid0,
       CAST({qty} AS VARCHAR) || '.00' AS quantity0,
       CAST(k % 90 AS VARCHAR) || '.25' AS price0,
       CAST((k + {m}) % 100 AS VARCHAR) || '.50' AS subtotal0,
       CASE WHEN k % 4 = 0 THEN NULL
            ELSE CAST(k % 5 AS VARCHAR) || '.' || CAST(k % 10 AS VARCHAR)
            END AS ratings0,
       '{_CREATED}' AS createddate0,
       {modified} AS modifieddate0
  FROM ks WHERE {filt}"""


def _order_item_src_sql(day: int) -> str:
    return f"{_order_item_arm_sql(day, 1)}\nUNION ALL\n{_order_item_arm_sql(day, 2)}"


def _order_item_clean_sql(src_cte: str) -> str:
    return f"""SELECT TRY_CAST(orderitemid0 AS BIGINT) AS order_item_id,
       TRY_CAST(orderid0 AS BIGINT) AS order_id_fk,
       TRY_CAST(menuitemid0 AS BIGINT) AS menuitem_id_fk,
       TRY_CAST(quantity0 AS DECIMAL(10,2)) AS quantity,
       TRY_CAST(price0 AS DECIMAL(10,2)) AS price,
       TRY_CAST(subtotal0 AS DECIMAL(10,2)) AS subtotal,
       TRY_CAST(ratings0 AS DECIMAL(10,2)) AS ratings,
       CAST(createddate0 AS TIMESTAMP) AS created_ts,
       CAST(modifieddate0 AS TIMESTAMP) AS modified_ts
  FROM {src_cte} WHERE orderitemid0 IS NOT NULL"""


_ORD_COLS = [
    "order_id", "customer_id_fk", "restaurant_id_fk", "order_date",
    "total_amount", "discount_amount", "delivery_charges", "final_amount",
    "status", "payment_method", "is_first_order", "coupon_code",
    "created_ts", "modified_ts",
]
_OI_KEY = ["order_item_id", "order_id_fk", "menuitem_id_fk"]
_OI_COLS = [
    "order_item_id", "order_id_fk", "menuitem_id_fk", "quantity", "price",
    "subtotal", "ratings", "created_ts", "modified_ts",
]

_ORD_DIGEST_SQL = (
    "md5(concat_ws('|', CAST(customer_id_fk AS VARCHAR), "
    "CAST(restaurant_id_fk AS VARCHAR), "
    "CAST(epoch_us(order_date) AS VARCHAR), "
    "CAST(CAST(total_amount * 100 AS BIGINT) AS VARCHAR), "
    "COALESCE(CAST(CAST(discount_amount * 100 AS BIGINT) AS VARCHAR), '-'), "
    "CAST(CAST(delivery_charges * 100 AS BIGINT) AS VARCHAR), "
    "CAST(CAST(final_amount * 100 AS BIGINT) AS VARCHAR), "
    "status, payment_method, "
    "COALESCE(CAST(CAST(is_first_order AS INT) AS VARCHAR), '-'), "
    "coupon_code, "
    "CAST(epoch_us(created_ts) AS VARCHAR), "
    "CAST(epoch_us(modified_ts) AS VARCHAR)))"
)
_OI_DIGEST_SQL = (
    "md5(concat_ws('|', "
    "CAST(CAST(quantity * 100 AS BIGINT) AS VARCHAR), "
    "CAST(CAST(price * 100 AS BIGINT) AS VARCHAR), "
    "CAST(CAST(subtotal * 100 AS BIGINT) AS VARCHAR), "
    "COALESCE(CAST(CAST(ratings * 100 AS BIGINT) AS VARCHAR), '-'), "
    "CAST(epoch_us(created_ts) AS VARCHAR), "
    "CAST(epoch_us(modified_ts) AS VARCHAR)))"
)

_ORDER_PAIR_LEGS = (
    ("orders", _orders_src, _write_drop_csv, "order_id", _orders_digest),
    ("order_item", _order_item_src, _write_drop_csv, _OI_KEY, _order_item_digest),
)

_ORDER_PAIR_ORACLE = f"""WITH {_KS_SQL},
ord_src1 AS ({_orders_src_sql(1)}),
ord_src2 AS ({_orders_src_sql(2)}),
ord_clean1 AS ({_orders_clean_sql('ord_src1')}),
ord_clean2 AS ({_orders_clean_sql('ord_src2')}),
{_merge_replay_sql('ord', 'order_id', _ORD_COLS)},
oi_src1 AS ({_order_item_src_sql(1)}),
oi_src2 AS ({_order_item_src_sql(2)}),
oi_clean1 AS ({_order_item_clean_sql('oi_src1')}),
oi_clean2 AS ({_order_item_clean_sql('oi_src2')}),
{_merge_replay_sql('oi', _OI_KEY, _OI_COLS)}
SELECT * FROM (
{_digest_rows_sql('ord', 'orders', 'order_id', _ORD_DIGEST_SQL)}
UNION ALL
{_digest_rows_sql('oi', 'order_item', _OI_KEY, _OI_DIGEST_SQL)}
) ORDER BY entity, layer, key_str, eff_start_day"""


@register(
    "q155_order_pair_replay",
    oracle=_ORDER_PAIR_ORACLE,
    doc="The orders + order_item PAIR under the q145 end-to-end oracle "
    "(round-10 verdict item 1): a deterministic two-day CSV drop for "
    "both entities runs through the REAL run_all fan-out — ledger, "
    "clean SCD1 upsert, SCD2 three-branch dim merge — then all four "
    "tables are read back as digest rows and hash-checked against a "
    "DuckDB oracle replaying the merges as CTEs. This closes the last "
    "§2 join flavor outside the driver hash: J3, the COMPOSITE "
    "business-key MERGE (`10 Order Item.sql:91-93`) — each key "
    "carries two sibling rows sharing order_item_id + order_id_fk but "
    "differing in menuitem_id_fk, and day 2 touches only one arm, so "
    "prefix-keyed merging would collapse or mis-version the sibling — "
    "plus P16's coupon constant-fill ('\\\\N' couponcode → "
    "'Not Applied', `09 Order Entity.sql:166-168`) and NUMBER(10,2) "
    "decimal money (five measures, three nullable) digested as exact "
    "cents. Day-2 carries the same changed/no-op/modified_ts-only/new "
    "key classes as q145, and a day-2 rerun must be a ledger no-op "
    "(asserted in-query).",
)
def q155_order_pair_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = _two_day_load(
        spark, sf_dir, "q155_order_pair_replay", "order_pair_replay", _ORDER_PAIR_LEGS
    )
    return _warehouse_digest(spark, wh, _ORDER_PAIR_LEGS)


# ---------------------------------------------------------------------------
# q156: customer + customer_address — the reference's two DOCUMENTED
# data bugs under the end-to-end driver hash (round-10 verdict item 5):
#
#   - the v2-vs-v3 email/mobile SWAP: v2 binds $4→email, $3→mobile
#     (`04 Customer Entity.sql:42-43`); v3 binds them straight
#     (`customer_proc.sql:106-109`). The engine implements v3, and the
#     fixture makes the choice FALSIFIABLE: emails and mobiles are
#     structurally different values, and the oracle's source CTE binds
#     column 3 → email, column 4 → mobile explicitly — a v2-style swap
#     anywhere in the engine's positional binding breaks the hash;
#   - the customer_address pincode type drift: NUMBER in clean
#     (`05:84`) vs STRING in the dim (`05:213`). The engine resolves it
#     as typed-once (TRY_TO_NUMBER in clean, carried through), and the
#     fixture includes non-numeric pincodes ('N/A') that must become
#     NULL under TRY semantics — not abort, not the raw string;
#   - plus TRY_TO_DATE for dob/anniversary (`customer_proc.sql:137-138`
#     — malformed dates NULL through; under Spark's ANSI default a raw
#     to_date would ABORT, the fidelity bug this round fixed in
#     _clean_customer), nullable doubles, and raw-text preferences.
#
# Same two-day key classes and rerun-idempotence contract as q145.
# ---------------------------------------------------------------------------

LOGIN_BY = ["Gmail", "Facebook", "App"]
CUISINES = ["Indian", "Chinese", "Italian"]
ADDR_TYPES = ["Home", "Work", "Other"]
RATINGS = ["1.0", "2.5", "3.0", "4.5"]  # exact halves: *10 is integral
# in BOTH engines, so the bigint digest cannot hit the trunc-vs-round
# cross-engine cast divergence


def _customer_src(cust: DataFrame, day: int) -> DataFrame:
    k = F.col("c_custkey")
    name = F.concat(F.lit(" User "), k.cast("string"), F.lit(" "))
    rating = _pick(RATINGS, k, 4)
    if day == 1:
        df = cust.filter(k % 10 != 9)
        modified = F.lit(_MOD1)
    else:
        df = cust.filter((k % 10).isin(0, 1, 2, 3, 4, 9))
        name = F.when(_changed(k),
                      F.concat(F.lit(" User "), k.cast("string"), F.lit(" v2 "))
                      ).otherwise(name)
        rating = F.when(_changed(k), _pick(RATINGS, k + 1, 4)).otherwise(rating)
        modified = F.when(k % 10 == 3, _MOD1).otherwise(F.lit(_MOD2))
    dob = F.when(
        k % 13 == 0, F.lit("N/A")  # malformed → NULL via TRY_TO_DATE
    ).otherwise(
        F.date_format(
            F.date_add(F.lit("1990-01-01").cast("date"), (k % 3650).cast("int")),
            "yyyy-MM-dd",
        )
    )
    anniversary = F.when(k % 6 == 0, _NULL).otherwise(
        F.date_format(
            F.date_add(F.lit("2015-01-01").cast("date"), (k % 3000).cast("int")),
            "yyyy-MM-dd",
        )
    )
    return df.select(
        k.cast("string").alias("customerid"),
        name.alias("name"),
        # the v3 pin: column 3 IS the email, column 4 IS the mobile —
        # structurally distinct values, so a v2-style swap breaks the
        # digest on every row
        F.concat(F.lit("u"), k.cast("string"), F.lit("@mail.com")).alias("email"),
        (k + 7000000000).cast("string").alias("mobile"),
        _pick(LOGIN_BY, k, 3).alias("loginbyusing"),
        _pick(GENDERS, k, 3).alias("gender"),
        dob.alias("dob"),
        anniversary.alias("anniversary"),
        F.when(k % 9 == 0, _NULL).otherwise(rating).alias("rating"),
        F.concat(F.lit("cuisine="), _pick(CUISINES, k, 3), F.lit(";veg="),
                 F.when(k % 2 == 0, "true").otherwise("false")).alias("preferences"),
        F.lit(_CREATED).alias("createddate"),
        modified.alias("modifieddate"),
    )


def _address_src(cust: DataFrame, day: int) -> DataFrame:
    k = F.col("c_custkey")
    building = F.concat(F.lit("B"), (k % 50).cast("string"))
    locality = _pick(CITIES, k, 7)
    if day == 1:
        df = cust.filter(k % 10 != 9)
        modified = F.lit(_MOD1)
    else:
        df = cust.filter((k % 10).isin(0, 1, 2, 3, 4, 9))
        building = F.when(_changed(k),
                          F.concat(F.lit("B"), ((k + 1) % 50).cast("string"))
                          ).otherwise(building)
        locality = F.when(_changed(k), _pick(CITIES, k + 1, 7)).otherwise(locality)
        modified = F.when(k % 10 == 3, _MOD1).otherwise(F.lit(_MOD2))
    return df.select(
        k.cast("string").alias("addressid"),
        (k % 500).cast("string").alias("customerid"),
        (k % 120 + 1).cast("string").alias("flatno"),
        (k % 20).cast("string").alias("floor"),
        building.alias("building"),
        F.when(k % 8 == 0, _NULL)
        .otherwise(F.concat(F.lit("Near "), _pick(CITIES, k + 2, 7)))
        .alias("landmark"),
        locality.alias("locality"),
        _pick(CITIES, k, 7).alias("city"),
        _pick(STATES, k, 26).alias("state"),
        # the TRY_TO_NUMBER pin: non-numeric pincodes NULL through
        F.when(k % 17 == 0, "N/A")
        .otherwise((F.lit(110000) + k % 890000).cast("string"))
        .alias("pincode"),
        F.concat((k % 90).cast("string"), F.lit("."),
                 F.lpad((k % 1000).cast("string"), 3, "0"), F.lit(","),
                 (k % 180).cast("string")).alias("coordinates"),
        F.when(k % 2 == 0, "Y").otherwise("N").alias("primaryflag"),
        _pick(ADDR_TYPES, k, 3).alias("addresstype"),
        F.lit(_CREATED).alias("createddate"),
        modified.alias("modifieddate"),
    )


def _customer_digest() -> Column:
    return F.md5(
        F.concat_ws(
            "|",
            F.col("name"),
            F.col("email"),
            F.col("mobile"),
            F.col("login_by_using"),
            F.col("gender"),
            F.coalesce(F.col("dob").cast("string"), F.lit("-")),
            F.coalesce(F.col("anniversary").cast("string"), F.lit("-")),
            F.coalesce((F.col("rating") * 10).cast("bigint").cast("string"),
                       F.lit("-")),
            F.col("preferences"),
            F.unix_micros(F.col("created_ts")).cast("string"),
            F.unix_micros(F.col("modified_ts")).cast("string"),
        )
    )


def _address_digest() -> Column:
    return F.md5(
        F.concat_ws(
            "|",
            F.col("customer_id_fk").cast("string"),
            F.col("flat_no"),
            F.col("floor"),
            F.col("building"),
            F.coalesce(F.col("landmark"), F.lit("-")),
            F.col("locality"),
            F.col("city"),
            F.col("state"),
            F.coalesce(F.col("pincode").cast("string"), F.lit("-")),
            F.col("coordinates"),
            F.col("primary_flag"),
            F.col("address_type"),
            F.unix_micros(F.col("created_ts")).cast("string"),
            F.unix_micros(F.col("modified_ts")).cast("string"),
        )
    )


def _customer_src_sql(day: int) -> str:
    if day == 1:
        filt = "k % 10 <> 9"
        name = "' User ' || CAST(k AS VARCHAR) || ' '"
        rating = f"({_sql_str_list(RATINGS)})[CAST(k % 4 AS INT) + 1]"
        modified = f"'{_MOD1}'"
    else:
        filt = "k % 10 IN (0, 1, 2, 3, 4, 9)"
        name = ("CASE WHEN k % 10 IN (0, 1, 2) THEN ' User ' || CAST(k AS VARCHAR) || ' v2 ' "
                "ELSE ' User ' || CAST(k AS VARCHAR) || ' ' END")
        rating = (
            f"CASE WHEN k % 10 IN (0, 1, 2) THEN ({_sql_str_list(RATINGS)})[CAST((k + 1) % 4 AS INT) + 1] "
            f"ELSE ({_sql_str_list(RATINGS)})[CAST(k % 4 AS INT) + 1] END"
        )
        modified = f"CASE WHEN k % 10 = 3 THEN '{_MOD1}' ELSE '{_MOD2}' END"
    return f"""SELECT CAST(k AS VARCHAR) AS customerid0,
       {name} AS name0,
       'u' || CAST(k AS VARCHAR) || '@mail.com' AS email0,
       CAST(k + 7000000000 AS VARCHAR) AS mobile0,
       ({_sql_str_list(LOGIN_BY)})[CAST(k % 3 AS INT) + 1] AS loginbyusing0,
       ({_sql_str_list(GENDERS)})[CAST(k % 3 AS INT) + 1] AS gender0,
       CASE WHEN k % 13 = 0 THEN 'N/A'
            ELSE strftime(DATE '1990-01-01' + CAST(k % 3650 AS INT), '%Y-%m-%d')
            END AS dob0,
       CASE WHEN k % 6 = 0 THEN NULL
            ELSE strftime(DATE '2015-01-01' + CAST(k % 3000 AS INT), '%Y-%m-%d')
            END AS anniversary0,
       CASE WHEN k % 9 = 0 THEN NULL ELSE {rating} END AS rating0,
       'cuisine=' || ({_sql_str_list(CUISINES)})[CAST(k % 3 AS INT) + 1]
           || ';veg=' || CASE WHEN k % 2 = 0 THEN 'true' ELSE 'false' END
           AS preferences0,
       '{_CREATED}' AS createddate0,
       {modified} AS modifieddate0
  FROM ks WHERE {filt}"""


def _customer_clean_sql(src_cte: str) -> str:
    """v3 binding made explicit (`customer_proc.sql:106-109`): email0
    (file column 3) → email, mobile0 (file column 4) → mobile, plus
    TRY_TO_DATE / TRY_TO_DOUBLE semantics."""
    return f"""SELECT customerid0 AS customer_id,
       TRIM(name0) AS name,
       email0 AS email,
       mobile0 AS mobile,
       loginbyusing0 AS login_by_using,
       gender0 AS gender,
       TRY_CAST(dob0 AS DATE) AS dob,
       TRY_CAST(anniversary0 AS DATE) AS anniversary,
       TRY_CAST(rating0 AS DOUBLE) AS rating,
       preferences0 AS preferences,
       CAST(createddate0 AS TIMESTAMP) AS created_ts,
       CAST(modifieddate0 AS TIMESTAMP) AS modified_ts
  FROM {src_cte} WHERE customerid0 IS NOT NULL"""


def _address_src_sql(day: int) -> str:
    cities = _sql_str_list(CITIES)
    if day == 1:
        filt = "k % 10 <> 9"
        building = "'B' || CAST(k % 50 AS VARCHAR)"
        locality = f"({cities})[CAST(k % 7 AS INT) + 1]"
        modified = f"'{_MOD1}'"
    else:
        filt = "k % 10 IN (0, 1, 2, 3, 4, 9)"
        building = ("CASE WHEN k % 10 IN (0, 1, 2) THEN 'B' || CAST((k + 1) % 50 AS VARCHAR) "
                    "ELSE 'B' || CAST(k % 50 AS VARCHAR) END")
        locality = (
            f"CASE WHEN k % 10 IN (0, 1, 2) THEN ({cities})[CAST((k + 1) % 7 AS INT) + 1] "
            f"ELSE ({cities})[CAST(k % 7 AS INT) + 1] END"
        )
        modified = f"CASE WHEN k % 10 = 3 THEN '{_MOD1}' ELSE '{_MOD2}' END"
    return f"""SELECT CAST(k AS VARCHAR) AS addressid0,
       CAST(k % 500 AS VARCHAR) AS customerid0,
       CAST(k % 120 + 1 AS VARCHAR) AS flatno0,
       CAST(k % 20 AS VARCHAR) AS floor0,
       {building} AS building0,
       CASE WHEN k % 8 = 0 THEN NULL
            ELSE 'Near ' || ({cities})[CAST((k + 2) % 7 AS INT) + 1] END AS landmark0,
       {locality} AS locality0,
       ({cities})[CAST(k % 7 AS INT) + 1] AS city0,
       ({_sql_str_list(STATES)})[CAST(k % 26 AS INT) + 1] AS state0,
       CASE WHEN k % 17 = 0 THEN 'N/A'
            ELSE CAST(110000 + (k % 890000) AS VARCHAR) END AS pincode0,
       CAST(k % 90 AS VARCHAR) || '.' || lpad(CAST(k % 1000 AS VARCHAR), 3, '0')
           || ',' || CAST(k % 180 AS VARCHAR) AS coordinates0,
       CASE WHEN k % 2 = 0 THEN 'Y' ELSE 'N' END AS primaryflag0,
       ({_sql_str_list(ADDR_TYPES)})[CAST(k % 3 AS INT) + 1] AS addresstype0,
       '{_CREATED}' AS createddate0,
       {modified} AS modifieddate0
  FROM ks WHERE {filt}"""


def _address_clean_sql(src_cte: str) -> str:
    """TRY_TO_NUMBER pincode (`05:84`, non-numeric → NULL) — the
    engine's resolution of the clean-NUMBER/dim-STRING drift is
    typed-once; the digest casts back to VARCHAR so both engines
    compare the same canonical form."""
    return f"""SELECT TRY_CAST(addressid0 AS INT) AS address_id,
       TRY_CAST(customerid0 AS INT) AS customer_id_fk,
       flatno0 AS flat_no,
       floor0 AS floor,
       building0 AS building,
       landmark0 AS landmark,
       locality0 AS locality,
       city0 AS city,
       state0 AS state,
       TRY_CAST(pincode0 AS BIGINT) AS pincode,
       coordinates0 AS coordinates,
       primaryflag0 AS primary_flag,
       addresstype0 AS address_type,
       CAST(createddate0 AS TIMESTAMP) AS created_ts,
       CAST(modifieddate0 AS TIMESTAMP) AS modified_ts
  FROM {src_cte} WHERE addressid0 IS NOT NULL"""


_CUST_COLS = [
    "customer_id", "name", "email", "mobile", "login_by_using", "gender",
    "dob", "anniversary", "rating", "preferences", "created_ts", "modified_ts",
]
_ADDR_COLS = [
    "address_id", "customer_id_fk", "flat_no", "floor", "building", "landmark",
    "locality", "city", "state", "pincode", "coordinates", "primary_flag",
    "address_type", "created_ts", "modified_ts",
]

_CUST_DIGEST_SQL = (
    "md5(concat_ws('|', name, email, mobile, login_by_using, gender, "
    "COALESCE(CAST(dob AS VARCHAR), '-'), "
    "COALESCE(CAST(anniversary AS VARCHAR), '-'), "
    "COALESCE(CAST(CAST(rating * 10 AS BIGINT) AS VARCHAR), '-'), "
    "preferences, "
    "CAST(epoch_us(created_ts) AS VARCHAR), "
    "CAST(epoch_us(modified_ts) AS VARCHAR)))"
)
_ADDR_DIGEST_SQL = (
    "md5(concat_ws('|', CAST(customer_id_fk AS VARCHAR), flat_no, floor, "
    "building, COALESCE(landmark, '-'), locality, city, state, "
    "COALESCE(CAST(pincode AS VARCHAR), '-'), coordinates, primary_flag, "
    "address_type, "
    "CAST(epoch_us(created_ts) AS VARCHAR), "
    "CAST(epoch_us(modified_ts) AS VARCHAR)))"
)

_CUSTOMER_PAIR_LEGS = (
    ("customer", _customer_src, _write_drop_csv, "customer_id", _customer_digest),
    ("customer_address", _address_src, _write_drop_csv, "address_id", _address_digest),
)

_CUSTOMER_PAIR_ORACLE = f"""WITH {_KS_SQL},
cu_src1 AS ({_customer_src_sql(1)}),
cu_src2 AS ({_customer_src_sql(2)}),
cu_clean1 AS ({_customer_clean_sql('cu_src1')}),
cu_clean2 AS ({_customer_clean_sql('cu_src2')}),
{_merge_replay_sql('cu', 'customer_id', _CUST_COLS)},
ad_src1 AS ({_address_src_sql(1)}),
ad_src2 AS ({_address_src_sql(2)}),
ad_clean1 AS ({_address_clean_sql('ad_src1')}),
ad_clean2 AS ({_address_clean_sql('ad_src2')}),
{_merge_replay_sql('ad', 'address_id', _ADDR_COLS)}
SELECT * FROM (
{_digest_rows_sql('cu', 'customer', 'customer_id', _CUST_DIGEST_SQL)}
UNION ALL
{_digest_rows_sql('ad', 'customer_address', 'address_id', _ADDR_DIGEST_SQL)}
) ORDER BY entity, layer, key_str, eff_start_day"""


@register(
    "q156_customer_pair_replay",
    oracle=_CUSTOMER_PAIR_ORACLE,
    doc="customer + customer_address under the q145 end-to-end oracle "
    "(round-10 verdict item 5): the reference's two DOCUMENTED data "
    "bugs pinned under the driver value hash. (1) The v2-vs-v3 "
    "email/mobile swap (`04 Customer Entity.sql:42-43` vs "
    "`customer_proc.sql:106-109`): the engine implements v3 straight "
    "binding, the fixture's emails and mobiles are structurally "
    "distinct, and the oracle binds file column 3 → email / column 4 "
    "→ mobile explicitly — a v2-style swap breaks every row's digest. "
    "(2) The pincode NUMBER-in-clean vs STRING-in-dim type drift "
    "(`05:84` vs `05:213`): resolved typed-once via TRY_TO_NUMBER, "
    "with non-numeric pincodes ('N/A') NULLing through — not aborting, "
    "not surviving as text. Also under the hash: TRY_TO_DATE for "
    "dob/anniversary (malformed 'N/A' dates NULL through — the raw "
    "to_date this round replaced would ABORT under Spark's ANSI "
    "default), nullable rating doubles digested as exact half-star "
    "integers, and raw-text preferences. Same two-day "
    "changed/no-op/modified_ts-only/new key classes and ledger "
    "rerun-idempotence assertion as q145.",
)
def q156_customer_pair_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = _two_day_load(
        spark, sf_dir, "q156_customer_pair_replay", "customer_pair_replay",
        _CUSTOMER_PAIR_LEGS,
    )
    return _warehouse_digest(spark, wh, _CUSTOMER_PAIR_LEGS)


# ---------------------------------------------------------------------------
# q159: restaurant + delivery — the LAST two entities, completing all
# ten under the end-to-end driver hash (every entity a reference user
# loads daily now has a full stage→clean→dim replay with a DuckDB
# oracle):
#
#   - restaurant: the 17-column CSV with the COUPONS variant at file
#     position 13 that clean DROPS (`03 Restaurant Entity.sql:63,81`)
#     — since binding is positional, a decoder that miscounts past the
#     dropped column shifts latitude/longitude and breaks every
#     digest; plus three decimal precisions in one entity
#     (pricing NUMBER(10,2), ratings NUMBER(4,3), lat/long
#     NUMBER(9,6));
#   - delivery: the OTHER composite business key (delivery_id,
#     order_id_fk, delivery_agent_id_fk — `08 Delivery Entity.sql:
#     96-98`), with two sibling rows per key differing only in
#     delivery_agent_id_fk and day 2 touching one arm (the q155
#     construction), and the estimated/delivered-time columns that
#     STAY STRING in clean (`08:70-71` — a type a careless "cast
#     everything" transform would break).
# ---------------------------------------------------------------------------

OPEN_STATUSES = ["Open", "Closed"]
DELIVERY_STATUSES = ["Delivered", "In Transit", "Returned"]


def _restaurant_src(cust: DataFrame, day: int) -> DataFrame:
    k = F.col("c_custkey")
    pricing_cents: Column = F.lit(".50")
    open_status = _pick(OPEN_STATUSES, k, 2)
    if day == 1:
        df = cust.filter(k % 10 != 9)
        modified = F.lit(_MOD1)
    else:
        df = cust.filter((k % 10).isin(0, 1, 2, 3, 4, 9))
        pricing_cents = F.when(_changed(k), ".75").otherwise(".50")
        open_status = F.when(_changed(k), _pick(OPEN_STATUSES, k + 1, 2)).otherwise(
            open_status
        )
        modified = F.when(k % 10 == 3, _MOD1).otherwise(F.lit(_MOD2))
    return df.select(
        k.cast("string").alias("restaurantid"),
        F.concat(F.lit("  Rest "), k.cast("string"), F.lit(" ")).alias("name"),
        F.concat(F.lit(" "), _pick(CUISINES, k, 3), F.lit(" ")).alias("cuisinetype"),
        F.when(k % 11 == 0, _NULL)
        .otherwise(F.concat((100 + k % 900).cast("string"), pricing_cents))
        .alias("pricing_for_2"),
        (k + 9000000000).cast("string").alias("restaurant_phone"),
        F.lit("09:00-23:00").alias("operatinghours"),
        (k % 200).cast("string").alias("locationid"),
        F.when(k % 2 == 0, "Y").otherwise("N").alias("activeflag"),
        open_status.alias("openstatus"),
        _pick(CITIES, k, 7).alias("locality"),
        F.concat(F.lit("Addr "), k.cast("string")).alias("restaurant_address"),
        F.concat((k % 5).cast("string"), F.lit("."),
                 F.lpad((k % 1000).cast("string"), 3, "0")).alias("ratings"),
        # the variant column clean DROPS (`03:81`): present in the
        # file, absent downstream — positional binding must step over
        # it or lat/long shift and every digest breaks
        F.concat(F.lit('[{"c":"CPN'), k.cast("string"), F.lit('"}]')).alias("coupons"),
        F.concat((k % 90).cast("string"), F.lit("."),
                 F.lpad((k % 1000000).cast("string"), 6, "0")).alias("latitude"),
        F.concat((k % 180).cast("string"), F.lit("."),
                 F.lpad(((k * 3) % 1000000).cast("string"), 6, "0")).alias("longitude"),
        F.lit(_CREATED).alias("createddate"),
        modified.alias("modifieddate"),
    )


def _delivery_src(cust: DataFrame, day: int) -> DataFrame:
    """Two composite-sibling rows per key (arms differ ONLY in
    deliveryagentid — the `08:96-98` triple), day 2 touching arm 1."""
    k = F.col("c_custkey")
    if day == 1:
        df = cust.filter(k % 10 != 9)
    else:
        df = cust.filter((k % 10).isin(0, 1, 2, 3, 4, 9))

    def arm(m: int) -> DataFrame:
        status = _pick(DELIVERY_STATUSES, k + m, 3)
        modified: Column = F.lit(_MOD1)
        if day == 2 and m == 1:
            status = F.when(_changed(k), _pick(DELIVERY_STATUSES, k + 2, 3)).otherwise(
                status
            )
            modified = F.when(k % 10 == 3, _MOD1).otherwise(F.lit(_MOD2))
        return df.select(
            k.cast("string").alias("deliveryid"),
            (k % 500).cast("string").alias("orderid"),
            F.lit(str(m)).alias("deliveryagentid"),
            status.alias("deliverystatus"),
            F.concat((k % 60).cast("string"), F.lit(" mins")).alias("estimatedtime"),
            F.when(k % 5 == 0, _NULL)
            .otherwise(F.concat((k % 55).cast("string"), F.lit(" mins")))
            .alias("deliveredtime"),
            (k % 300).cast("string").alias("addressid"),
            F.concat(
                F.lit("2024-05-02 "),
                F.lpad((k % 24).cast("string"), 2, "0"), F.lit(":"),
                F.lpad(((k * 5) % 60).cast("string"), 2, "0"), F.lit(":00"),
            ).alias("deliverydate"),
            F.lit(_CREATED).alias("createddate"),
            modified.alias("modifieddate"),
        )

    return arm(1).unionByName(arm(2))


def _restaurant_digest() -> Column:
    return F.md5(
        F.concat_ws(
            "|",
            F.col("name"),
            F.col("cuisine_type"),
            F.coalesce(
                (F.col("pricing_for_two") * 100).cast("bigint").cast("string"),
                F.lit("-"),
            ),
            F.col("restaurant_phone"),
            F.col("operating_hours"),
            F.col("location_id_fk").cast("string"),
            F.col("active_flag"),
            F.col("open_status"),
            F.col("locality"),
            F.col("restaurant_address"),
            (F.col("ratings") * 1000).cast("bigint").cast("string"),
            (F.col("latitude") * 1000000).cast("bigint").cast("string"),
            (F.col("longitude") * 1000000).cast("bigint").cast("string"),
            F.unix_micros(F.col("created_ts")).cast("string"),
            F.unix_micros(F.col("modified_ts")).cast("string"),
        )
    )


def _delivery_digest() -> Column:
    return F.md5(
        F.concat_ws(
            "|",
            F.col("delivery_status"),
            F.col("estimated_time"),
            F.coalesce(F.col("delivered_time"), F.lit("-")),
            F.col("address_id_fk").cast("string"),
            F.unix_micros(F.col("delivery_date")).cast("string"),
            F.unix_micros(F.col("created_ts")).cast("string"),
            F.unix_micros(F.col("modified_ts")).cast("string"),
        )
    )


def _restaurant_src_sql(day: int) -> str:
    if day == 1:
        filt = "k % 10 <> 9"
        pricing_cents = "'.50'"
        open_status = f"({_sql_str_list(OPEN_STATUSES)})[CAST(k % 2 AS INT) + 1]"
        modified = f"'{_MOD1}'"
    else:
        filt = "k % 10 IN (0, 1, 2, 3, 4, 9)"
        pricing_cents = "CASE WHEN k % 10 IN (0, 1, 2) THEN '.75' ELSE '.50' END"
        open_status = (
            f"CASE WHEN k % 10 IN (0, 1, 2) THEN ({_sql_str_list(OPEN_STATUSES)})[CAST((k + 1) % 2 AS INT) + 1] "
            f"ELSE ({_sql_str_list(OPEN_STATUSES)})[CAST(k % 2 AS INT) + 1] END"
        )
        modified = f"CASE WHEN k % 10 = 3 THEN '{_MOD1}' ELSE '{_MOD2}' END"
    return f"""SELECT CAST(k AS VARCHAR) AS restaurantid0,
       '  Rest ' || CAST(k AS VARCHAR) || ' ' AS name0,
       ' ' || ({_sql_str_list(CUISINES)})[CAST(k % 3 AS INT) + 1] || ' ' AS cuisinetype0,
       CASE WHEN k % 11 = 0 THEN NULL
            ELSE CAST(100 + k % 900 AS VARCHAR) || {pricing_cents} END AS pricing0,
       CAST(k + 9000000000 AS VARCHAR) AS phone0,
       '09:00-23:00' AS hours0,
       CAST(k % 200 AS VARCHAR) AS locationid0,
       CASE WHEN k % 2 = 0 THEN 'Y' ELSE 'N' END AS activeflag0,
       {open_status} AS openstatus0,
       ({_sql_str_list(CITIES)})[CAST(k % 7 AS INT) + 1] AS locality0,
       'Addr ' || CAST(k AS VARCHAR) AS address0,
       CAST(k % 5 AS VARCHAR) || '.' || lpad(CAST(k % 1000 AS VARCHAR), 3, '0') AS ratings0,
       CAST(k % 90 AS VARCHAR) || '.' || lpad(CAST(k % 1000000 AS VARCHAR), 6, '0') AS latitude0,
       CAST(k % 180 AS VARCHAR) || '.' || lpad(CAST((k * 3) % 1000000 AS VARCHAR), 6, '0') AS longitude0,
       '{_CREATED}' AS createddate0,
       {modified} AS modifieddate0
  FROM ks WHERE {filt}"""


def _restaurant_clean_sql(src_cte: str) -> str:
    """`03:136-163` in SQL: TRIM name/cuisine, three decimal
    precisions; the coupons variant never reaches this layer, so the
    oracle source CTE simply does not carry it — mirroring the
    engine's clean projection."""
    return f"""SELECT TRY_CAST(restaurantid0 AS BIGINT) AS restaurant_id,
       TRIM(name0) AS name,
       TRIM(cuisinetype0) AS cuisine_type,
       TRY_CAST(pricing0 AS DECIMAL(10,2)) AS pricing_for_two,
       phone0 AS restaurant_phone,
       hours0 AS operating_hours,
       TRY_CAST(locationid0 AS BIGINT) AS location_id_fk,
       activeflag0 AS active_flag,
       openstatus0 AS open_status,
       locality0 AS locality,
       address0 AS restaurant_address,
       TRY_CAST(ratings0 AS DECIMAL(4,3)) AS ratings,
       TRY_CAST(latitude0 AS DECIMAL(9,6)) AS latitude,
       TRY_CAST(longitude0 AS DECIMAL(9,6)) AS longitude,
       CAST(createddate0 AS TIMESTAMP) AS created_ts,
       CAST(modifieddate0 AS TIMESTAMP) AS modified_ts
  FROM {src_cte} WHERE restaurantid0 IS NOT NULL"""


def _delivery_arm_sql(day: int, m: int) -> str:
    filt = "k % 10 <> 9" if day == 1 else "k % 10 IN (0, 1, 2, 3, 4, 9)"
    statuses = _sql_str_list(DELIVERY_STATUSES)
    status = f"({statuses})[CAST((k + {m}) % 3 AS INT) + 1]"
    modified = f"'{_MOD1}'"
    if day == 2 and m == 1:
        status = (
            f"CASE WHEN k % 10 IN (0, 1, 2) THEN ({statuses})[CAST((k + 2) % 3 AS INT) + 1] "
            f"ELSE {status} END"
        )
        modified = f"CASE WHEN k % 10 = 3 THEN '{_MOD1}' ELSE '{_MOD2}' END"
    return f"""SELECT CAST(k AS VARCHAR) AS deliveryid0,
       CAST(k % 500 AS VARCHAR) AS orderid0,
       '{m}' AS deliveryagentid0,
       {status} AS deliverystatus0,
       CAST(k % 60 AS VARCHAR) || ' mins' AS estimatedtime0,
       CASE WHEN k % 5 = 0 THEN NULL
            ELSE CAST(k % 55 AS VARCHAR) || ' mins' END AS deliveredtime0,
       CAST(k % 300 AS VARCHAR) AS addressid0,
       '2024-05-02 ' || lpad(CAST(k % 24 AS VARCHAR), 2, '0') || ':'
                     || lpad(CAST((k * 5) % 60 AS VARCHAR), 2, '0') || ':00'
           AS deliverydate0,
       '{_CREATED}' AS createddate0,
       {modified} AS modifieddate0
  FROM ks WHERE {filt}"""


def _delivery_src_sql(day: int) -> str:
    return f"{_delivery_arm_sql(day, 1)}\nUNION ALL\n{_delivery_arm_sql(day, 2)}"


def _delivery_clean_sql(src_cte: str) -> str:
    """`08:60-85` in SQL: estimated/delivered time STAY STRING."""
    return f"""SELECT TRY_CAST(deliveryid0 AS INT) AS delivery_id,
       TRY_CAST(orderid0 AS BIGINT) AS order_id_fk,
       TRY_CAST(deliveryagentid0 AS BIGINT) AS delivery_agent_id_fk,
       deliverystatus0 AS delivery_status,
       estimatedtime0 AS estimated_time,
       deliveredtime0 AS delivered_time,
       TRY_CAST(addressid0 AS BIGINT) AS address_id_fk,
       CAST(deliverydate0 AS TIMESTAMP) AS delivery_date,
       CAST(createddate0 AS TIMESTAMP) AS created_ts,
       CAST(modifieddate0 AS TIMESTAMP) AS modified_ts
  FROM {src_cte} WHERE deliveryid0 IS NOT NULL"""


_REST_COLS = [
    "restaurant_id", "name", "cuisine_type", "pricing_for_two",
    "restaurant_phone", "operating_hours", "location_id_fk", "active_flag",
    "open_status", "locality", "restaurant_address", "ratings", "latitude",
    "longitude", "created_ts", "modified_ts",
]
_DLV_KEY = ["delivery_id", "order_id_fk", "delivery_agent_id_fk"]
_DLV_COLS = [
    "delivery_id", "order_id_fk", "delivery_agent_id_fk", "delivery_status",
    "estimated_time", "delivered_time", "address_id_fk", "delivery_date",
    "created_ts", "modified_ts",
]

_REST_DIGEST_SQL = (
    "md5(concat_ws('|', name, cuisine_type, "
    "COALESCE(CAST(CAST(pricing_for_two * 100 AS BIGINT) AS VARCHAR), '-'), "
    "restaurant_phone, operating_hours, CAST(location_id_fk AS VARCHAR), "
    "active_flag, open_status, locality, restaurant_address, "
    "CAST(CAST(ratings * 1000 AS BIGINT) AS VARCHAR), "
    "CAST(CAST(latitude * 1000000 AS BIGINT) AS VARCHAR), "
    "CAST(CAST(longitude * 1000000 AS BIGINT) AS VARCHAR), "
    "CAST(epoch_us(created_ts) AS VARCHAR), "
    "CAST(epoch_us(modified_ts) AS VARCHAR)))"
)
_DLV_DIGEST_SQL = (
    "md5(concat_ws('|', delivery_status, estimated_time, "
    "COALESCE(delivered_time, '-'), CAST(address_id_fk AS VARCHAR), "
    "CAST(epoch_us(delivery_date) AS VARCHAR), "
    "CAST(epoch_us(created_ts) AS VARCHAR), "
    "CAST(epoch_us(modified_ts) AS VARCHAR)))"
)

_RESTAURANT_PAIR_LEGS = (
    ("restaurant", _restaurant_src, _write_drop_csv, "restaurant_id", _restaurant_digest),
    ("delivery", _delivery_src, _write_drop_csv, _DLV_KEY, _delivery_digest),
)

_REST_PAIR_ORACLE = f"""WITH {_KS_SQL},
re_src1 AS ({_restaurant_src_sql(1)}),
re_src2 AS ({_restaurant_src_sql(2)}),
re_clean1 AS ({_restaurant_clean_sql('re_src1')}),
re_clean2 AS ({_restaurant_clean_sql('re_src2')}),
{_merge_replay_sql('re', 'restaurant_id', _REST_COLS)},
dl_src1 AS ({_delivery_src_sql(1)}),
dl_src2 AS ({_delivery_src_sql(2)}),
dl_clean1 AS ({_delivery_clean_sql('dl_src1')}),
dl_clean2 AS ({_delivery_clean_sql('dl_src2')}),
{_merge_replay_sql('dl', _DLV_KEY, _DLV_COLS)}
SELECT * FROM (
{_digest_rows_sql('re', 'restaurant', 'restaurant_id', _REST_DIGEST_SQL)}
UNION ALL
{_digest_rows_sql('dl', 'delivery', _DLV_KEY, _DLV_DIGEST_SQL)}
) ORDER BY entity, layer, key_str, eff_start_day"""


@register(
    "q159_restaurant_pair_replay",
    oracle=_REST_PAIR_ORACLE,
    doc="restaurant + delivery under the q145 end-to-end oracle — "
    "completing ALL TEN reference entities with a driver-hashed "
    "stage→clean→dim replay (q145: location/menu/login_audit, q147: "
    "delivery_agent JSON, q155: orders/order_item, q156: customer/"
    "customer_address). restaurant exercises the 17-column positional "
    "bind with the COUPONS variant at position 13 that clean DROPS "
    "(`03 Restaurant Entity.sql:63,81` — a binding off-by-one shifts "
    "latitude/longitude and breaks every digest) plus three decimal "
    "precisions (NUMBER(10,2)/(4,3)/(9,6)). delivery exercises the "
    "OTHER composite business key (delivery_id, order_id_fk, "
    "delivery_agent_id_fk — `08:96-98`) with the q155 sibling-arm "
    "construction, and the estimated/delivered-time columns that stay "
    "STRING in clean (`08:70-71`). Same two-day key classes and "
    "ledger rerun-idempotence assertion as q145.",
)
def q159_restaurant_pair_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = _two_day_load(
        spark, sf_dir, "q159_restaurant_pair_replay", "restaurant_pair_replay",
        _RESTAURANT_PAIR_LEGS,
    )
    return _warehouse_digest(spark, wh, _RESTAURANT_PAIR_LEGS)
