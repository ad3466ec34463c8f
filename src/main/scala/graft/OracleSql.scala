package graft

/** DuckDB oracle SQL for each entry in [[SparkEntry.queries]].
  *
  * Each statement mirrors the Spark plan's arithmetic *operation
  * order* so double-precision results agree bit-for-bit where
  * summation order is fixed, and agree after rounding where it is not.
  * Integer counts are cast to BIGINT on the DuckDB side (DuckDB's
  * integer sums widen to HUGEINT) and ranks to INT to match Spark's
  * row_number type.
  */
object OracleSql {

  private val fp = "md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))"

  private val q01 = """
    SELECT l_returnflag, l_linestatus,
      round(sum(l_quantity), 2) AS sum_qty,
      round(sum(l_extendedprice), 2) AS sum_base_price,
      round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      round(avg(l_quantity), 6) AS avg_qty,
      count(*) AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
  """

  private val q02 = """
    SELECT event_id, user_id,
      CASE WHEN value BETWEEN 0.0 AND 150.0 THEN value END AS clamped,
      greatest(value, 0.0) AS nonneg
    FROM events
    WHERE ts <= TIMESTAMP '2025-01-01 00:00:00'
  """

  private val q03 = """
    SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
        row_number() OVER (PARTITION BY c.c_mktsegment
                           ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey) t
    WHERE rk <= 3
  """

  private val q04 = """
    SELECT n_name,
      round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      count(*) AS n_items
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
  """

  private val q05 = """
    WITH b AS (
      SELECT event_type,
        quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type),
    b2 AS (
      SELECT event_type,
        round((q1 - 1.5 * (q3 - q1)) * 1000000.0) / 1000000.0 AS lo,
        round((q3 + 1.5 * (q3 - q1)) * 1000000.0) / 1000000.0 AS hi
      FROM b)
    SELECT e.event_type,
      CAST(sum(CASE WHEN e.value < b2.lo OR e.value > b2.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      count(*) AS n_total
    FROM events e JOIN b2 ON e.event_type = b2.event_type
    GROUP BY e.event_type
  """

  private val q06 = """
    WITH d AS (
      SELECT user_id,
        date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) AS dt_s
      FROM events),
    r AS (SELECT user_id,
            CAST(CASE WHEN dt_s < 10 THEN greatest(round(dt_s), 1)
                 ELSE round(dt_s / 10.0) * 10 END AS BIGINT) AS dt_r
          FROM d WHERE dt_s IS NOT NULL),
    c AS (SELECT user_id, dt_r, count(*) AS cnt FROM r GROUP BY 1, 2)
    SELECT user_id, dt_r AS freq_s FROM (
      SELECT user_id, dt_r,
        row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, dt_r ASC) AS rn
      FROM c) t
    WHERE rn = 1
  """

  private val q07 = """
    WITH d AS (
      SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        round(sum(value), 2) AS sum_v, count(*) AS n_slots
      FROM events GROUP BY 1, 2)
    SELECT user_id, day, sum_v, n_slots,
      round(sum_v * 24.0 / n_slots, 4) AS energy
    FROM d
  """

  private val q08 = """
    WITH cap AS (
      SELECT user_id, round(quantile_cont(value, 0.95) * 0.02, 6) AS thr
      FROM events GROUP BY 1),
    d AS (
      SELECT e.user_id, CAST(CAST(e.ts AS DATE) AS VARCHAR) AS day,
        CAST(sum(CASE WHEN e.value > cap.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        count(*) AS n_slots
      FROM events e JOIN cap ON e.user_id = cap.user_id
      GROUP BY 1, 2)
    SELECT user_id, day, n_above, n_slots,
      round(CAST(n_above AS DOUBLE) / n_slots, 6) AS density
    FROM d
  """

  private val q09 = """
    WITH d AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
        round(value - lag(value) OVER (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts), 4) AS diff
      FROM events),
    f AS (SELECT * FROM d WHERE diff IS NOT NULL),
    c AS (SELECT user_id, day, diff AS modal_diff, count(*) AS mode_cnt FROM f GROUP BY 1, 2, 3),
    t AS (SELECT user_id, day, count(*) AS n_diffs FROM f GROUP BY 1, 2),
    m AS (SELECT user_id, day, modal_diff, mode_cnt,
            row_number() OVER (PARTITION BY user_id, day ORDER BY mode_cnt DESC, modal_diff ASC) AS rn
          FROM c)
    SELECT m.user_id, CAST(m.day AS VARCHAR) AS day, m.modal_diff, m.mode_cnt, t.n_diffs
    FROM m JOIN t ON m.user_id = t.user_id AND m.day = t.day
    WHERE m.rn = 1
  """

  private val q10 = """
    WITH d AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
        value - 2.0 * lag(value, 1) OVER w + lag(value, 2) OVER w AS d2
      FROM events
      WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts))
    SELECT user_id, CAST(day AS VARCHAR) AS day, round(sum(abs(d2)), 4) AS smoothness
    FROM d GROUP BY 1, 2
    HAVING sum(abs(d2)) IS NOT NULL
  """

  private val q11 = """
    WITH d AS (
      SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        round(sum(date_diff('second', date_trunc('day', ts), ts) * value), 2) AS num_sv,
        round(sum(value), 2) AS sum_v
      FROM events GROUP BY 1, 2)
    SELECT user_id, day, num_sv, sum_v,
      round(num_sv / 3600.0 / nullif(sum_v, 0.0) * 1000000.0) / 1000000.0 AS com_hour
    FROM d
  """

  private val q12 = """
    WITH p AS (
      SELECT user_id, ts, event_id, event_type,
        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    r AS (
      SELECT user_id,
        sum(CASE WHEN rn = 1 OR prev IS DISTINCT FROM event_type THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      FROM p)
    SELECT user_id, CAST(max(run_id) AS BIGINT) AS n_runs, count(*) AS n_events
    FROM r GROUP BY 1
  """

  private val q13 = """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS daily_max
      FROM events GROUP BY 1, 2)
    SELECT user_id, CAST(day AS VARCHAR) AS day, daily_max,
      round(percent_rank() OVER (PARTITION BY user_id ORDER BY daily_max ASC, day ASC), 6) AS ecdf
    FROM daily
  """

  private val q14 = """
    WITH g AS (
      SELECT user_id, event_id, value,
        CAST(floor((e + 300) / 600.0) * 600 AS BIGINT) AS grid_epoch,
        abs(e - CAST(floor((e + 300) / 600.0) * 600 AS BIGINT)) AS dist
      FROM (SELECT *, date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS e FROM events) t)
    SELECT user_id, grid_epoch, event_id, value FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, grid_epoch
                                   ORDER BY dist ASC, event_id ASC) AS rn FROM g) t
    WHERE rn = 1
  """

  private val q15 = """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      round(sum(CASE WHEN event_type = 'click' THEN value ELSE 0.0 END), 4) AS click_v,
      round(sum(CASE WHEN event_type = 'view' THEN value ELSE 0.0 END), 4) AS view_v,
      round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 4) AS purchase_v,
      round(sum(CASE WHEN event_type = 'signup' THEN value ELSE 0.0 END), 4) AS signup_v,
      round(sum(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END), 4) AS error_v,
      count(*) AS n_events
    FROM events GROUP BY 1
  """

  private val q16 = """
    WITH base AS (
      SELECT event_id, user_id, epoch_us(ts) AS x,
        CASE WHEN event_type <> 'error' THEN value END AS v
      FROM events),
    w AS (
      SELECT event_id, user_id, x, v,
        last_value(v IGNORE NULLS) OVER wb AS pv,
        first_value(v IGNORE NULLS) OVER wa AS nv,
        last_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS) OVER wb AS px,
        first_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS) OVER wa AS nx
      FROM base
      WINDOW
        wb AS (PARTITION BY user_id ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wa AS (PARTITION BY user_id ORDER BY x ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_id, user_id,
      round((CASE
        WHEN v IS NOT NULL THEN v
        WHEN pv IS NULL THEN nv
        WHEN nv IS NULL THEN pv
        WHEN nx = px THEN pv
        ELSE pv + (CAST(x - px AS DOUBLE) / CAST(nx - px AS DOUBLE)) * (nv - pv)
      END) * 10000.0) / 10000.0 AS filled
    FROM w
  """

  private val q17 = """
    SELECT user_id,
      round(quantile_cont(value, 0.95) * 1000000.0) / 1000000.0 AS capacity
    FROM events GROUP BY 1
  """

  private val q18 = """
    WITH m AS (SELECT user_id, round(max(value) * 0.05, 6) AS thr FROM events GROUP BY 1),
    h AS (
      SELECT e.user_id, CAST(e.ts AS DATE) AS day,
        date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 AS hr,
        e.value, m.thr
      FROM events e JOIN m ON e.user_id = m.user_id)
    SELECT user_id, CAST(day AS VARCHAR) AS day,
      round(min(CASE WHEN value > thr THEN hr END), 6) AS sunrise_h,
      round(max(CASE WHEN value > thr THEN hr END), 6) AS sunset_h,
      round(max(CASE WHEN value > thr THEN hr END) - min(CASE WHEN value > thr THEN hr END), 6) AS daylight_h
    FROM h GROUP BY 1, 2
  """

  private val q19 = """
    SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(value) AS n_obs,
      round(avg(value), 6) AS avg_v,
      (count(value) >= 10 AND avg(value) > 0.0) AS good_day
    FROM events GROUP BY 1, 2
  """

  private val q20 = """
    WITH f AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
        (count(value) >= 10 AND avg(value) > 0.0) AS good_day
      FROM events GROUP BY 1, 2)
    SELECT user_id,
      round(avg(CASE WHEN good_day THEN 1.0 ELSE 0.0 END), 6) AS quality_score,
      count(*) AS n_days
    FROM f GROUP BY 1
  """

  private val q21 = """
    WITH p AS (
      SELECT user_id, ts, event_id,
        date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS e,
        lag(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts))
          OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pe
      FROM events),
    s AS (
      SELECT user_id, e,
        sum(CASE WHEN pe IS NULL OR (e - pe) > 1800 THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM p),
    g AS (SELECT user_id, session_id, count(*) AS n, max(e) - min(e) AS dur_s
          FROM s GROUP BY 1, 2)
    SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
      round(avg(dur_s), 4) AS avg_sess_s, max(n) AS max_sess_events
    FROM g GROUP BY 1
  """

  private val q22 = """
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    d AS (SELECT day, dayofyear(day) AS doy FROM days),
    c AS (SELECT day, doy,
            23.45 * sin(6.283185307179586 * (doy + 284.0) / 365.0) AS decl
          FROM d)
    SELECT CAST(day AS VARCHAR) AS day,
      round(decl, 6) AS decl_deg,
      round(229.18 * (0.000075
        + 0.001868 * cos(6.283185307179586 * (doy - 1.0) / 365.0)
        - 0.032077 * sin(6.283185307179586 * (doy - 1.0) / 365.0)
        - 0.014615 * cos(2.0 * (6.283185307179586 * (doy - 1.0) / 365.0))
        - 0.04089 * sin(2.0 * (6.283185307179586 * (doy - 1.0) / 365.0))), 6) AS eot_min,
      round(0.13333333333333333
        * acos(greatest(-1.0, least(1.0, -tan(0.6544984694978736) * tan(decl * 0.017453292519943295))))
        * 57.29577951308232, 6) AS daylight_h
    FROM c
  """

  private val q23 = """
    WITH b AS (
      SELECT value,
        CAST(round((15.0 * (date_diff('second', date_trunc('day', ts), ts) / 3600.0 - 12.0)) / 2.0) * 2 AS INT) AS az_bin,
        CAST(round(asin(greatest(-1.0, least(1.0,
          0.6087614290087207 * sin((23.45 * sin(6.283185307179586 * (dayofyear(CAST(ts AS DATE)) + 284.0) / 365.0)) * 0.017453292519943295)
          + 0.7933533402912352 * cos((23.45 * sin(6.283185307179586 * (dayofyear(CAST(ts AS DATE)) + 284.0) / 365.0)) * 0.017453292519943295)
            * cos((15.0 * (date_diff('second', date_trunc('day', ts), ts) / 3600.0 - 12.0)) * 0.017453292519943295)
        ))) * 57.29577951308232) AS INT) AS el_bin
      FROM events)
    SELECT az_bin, el_bin, round(sum(value), 2) AS sum_v, count(*) AS n
    FROM b GROUP BY 1, 2
  """

  private val q24 = """
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    f AS (SELECT user_id, day,
            ntile(21) OVER (PARTITION BY user_id ORDER BY day) AS fold
          FROM days)
    SELECT user_id, CAST(fold AS INT) AS fold, count(*) AS n_days, CAST(min(day) AS VARCHAR) AS first_day
    FROM f GROUP BY 1, 2
  """

  private val q25 = """
    WITH a AS (
      SELECT user_id, count(*) AS n,
        avg(cos(date_diff('second', date_trunc('day', ts), ts) / 86400.0 * 6.283185307179586)) AS cbar,
        avg(sin(date_diff('second', date_trunc('day', ts), ts) / 86400.0 * 6.283185307179586)) AS sbar
      FROM events GROUP BY 1),
    b AS (SELECT user_id, n, sqrt(cbar * cbar + sbar * sbar) AS r FROM a),
    c AS (SELECT user_id, n, r, n * (r * r) AS z FROM b)
    SELECT user_id, n, round(r, 6) AS r, round(z, 6) AS z, round(exp(-z), 6) AS p_value
    FROM c
  """

  private val q26 = """
    WITH a AS (
      SELECT user_id,
        round(sum(date_diff('second', date_trunc('day', ts), ts) * value), 2) AS num_sv,
        round(sum(value), 2) AS sum_v
      FROM events GROUP BY 1),
    b AS (SELECT user_id,
            round(num_sv / 3600.0 / nullif(sum_v, 0.0) * 1000000.0) / 1000000.0 AS com_hour
          FROM a)
    SELECT user_id, com_hour,
      CAST(round(12.0 - com_hour) AS INT) AS tz_offset_h
    FROM b
  """

  private val q27 = """
    WITH b AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, value,
        date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS e
      FROM events),
    s AS (
      SELECT user_id, day, event_id,
        (value + lag(value, 1) OVER w) / 2.0 * (e - lag(e, 1) OVER w) AS seg
      FROM b WINDOW w AS (PARTITION BY user_id, day ORDER BY ts)),
    c AS (
      SELECT user_id, day, event_id,
        sum(seg) OVER (PARTITION BY user_id, day ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        sum(seg) OVER (PARTITION BY user_id, day) AS total
      FROM s)
    SELECT user_id, CAST(day AS VARCHAR) AS day, event_id,
      round(cum / total * 1000000.0) / 1000000.0 AS cum_frac
    FROM c WHERE cum IS NOT NULL AND total > 0
  """

  private val q28 = """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS daily_max
      FROM events GROUP BY 1, 2),
    masses AS (
      SELECT user_id, round(daily_max / 10.0) * 10.0 AS mass, count(*) AS n_in_bucket
      FROM daily GROUP BY 1, 2 HAVING count(*) >= 3)
    SELECT d.user_id, m.mass, count(*) AS n_days_near, round(sum(d.daily_max), 2) AS sum_near
    FROM daily d JOIN masses m ON d.user_id = m.user_id
    WHERE abs(d.daily_max - m.mass) <= 2.5
    GROUP BY 1, 2
  """

  private val q29 = """
    SELECT CAST(floor(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) / 600.0) * 600 AS BIGINT) AS grid_epoch,
      arg_min(value, event_id) FILTER (WHERE user_id = 0) AS u0_v,
      arg_min(value, event_id) FILTER (WHERE user_id = 1) AS u1_v,
      arg_min(value, event_id) FILTER (WHERE user_id = 2) AS u2_v,
      arg_min(value, event_id) FILTER (WHERE user_id = 3) AS u3_v,
      arg_min(value, event_id) FILTER (WHERE user_id = 4) AS u4_v,
      count(*) AS n_rows
    FROM events GROUP BY 1
    HAVING count(*) >= 2
  """

  private val q36 = """
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow, CAST(hour(ts) AS INT) AS hod,
      round(quantile_cont(value, 0.5), 6) AS med_v, count(*) AS n
    FROM events GROUP BY 1, 2
  """

  private val q30 = """
    WITH t AS (
      SELECT user_id, quantile_cont(value, list_transform(range(0, 21), x -> x / 20.0)) AS qs
      FROM events GROUP BY 1),
    u AS (SELECT user_id, unnest(range(0, 21)) AS g, unnest(qs) AS q FROM t)
    SELECT user_id, CAST(g AS INT) AS g, round(q, 5) AS quant FROM u
  """

  private val q31 = """
    WITH ev AS (
      SELECT user_id, date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS e, value, event_id
      FROM events),
    span AS (SELECT user_id, min(e) AS min_e, max(e) AS max_e FROM ev GROUP BY 1),
    grid AS (
      SELECT user_id,
        unnest(range(CAST(floor(min_e / 3600.0) * 3600 AS BIGINT), max_e + 1, 3600)) AS e
      FROM span),
    tagged AS (
      SELECT user_id, e, value, event_id, 0 AS tag FROM ev
      UNION ALL
      SELECT user_id, e, NULL AS value, 9223372036854775807 AS event_id, 1 AS tag FROM grid),
    wv AS (
      SELECT user_id, e, tag,
        last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY e, tag, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_v
      FROM tagged)
    SELECT user_id, e AS grid_epoch, last_v FROM wv WHERE tag = 1
  """

  private val q32 = """
    WITH a AS (
      SELECT user_id, count(*) AS n,
        sum(date_diff('second', date_trunc('day', ts), ts) / 3600.0) AS sx,
        sum(value) AS sy,
        sum((date_diff('second', date_trunc('day', ts), ts) / 3600.0) * value) AS sxy,
        sum((date_diff('second', date_trunc('day', ts), ts) / 3600.0)
            * (date_diff('second', date_trunc('day', ts), ts) / 3600.0)) AS sxx,
        sum(value * value) AS syy
      FROM events GROUP BY 1),
    b AS (SELECT user_id, n, sx, sy, sxy, sxx, syy,
            (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) AS slope
          FROM a),
    c AS (SELECT user_id, n, slope,
            (sy - slope * sx) / nullif(CAST(n AS DOUBLE), 0.0) AS intercept,
            (n * sxy - sx * sy) / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0) AS r
          FROM b)
    SELECT user_id, n, round(slope * 1000000.0) / 1000000.0 AS slope,
      round(intercept * 1000000.0) / 1000000.0 AS intercept,
      round(r * r * 1000000.0) / 1000000.0 AS r2
    FROM c
  """

  private val q33 = """
    WITH cap AS (
      SELECT user_id, round(quantile_cont(value, 0.95) * 0.02, 6) AS thr
      FROM events GROUP BY 1),
    a AS (
      SELECT e.user_id,
        CAST(sum(CASE WHEN e.value > cap.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_raw,
        CAST(sum(CASE WHEN e.event_type <> 'error' AND e.value > cap.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_filled
      FROM events e JOIN cap ON e.user_id = cap.user_id
      GROUP BY 1)
    SELECT user_id, n_raw, n_filled,
      round(CAST(n_filled AS DOUBLE) / nullif(CAST(n_raw AS DOUBLE), 0.0), 6) AS ratio,
      (round(CAST(n_filled AS DOUBLE) / nullif(CAST(n_raw AS DOUBLE), 0.0), 6) >= 0.85) AS ok
    FROM a
  """

  private val q34 = """
    SELECT user_id, (event_id * 2654435761) % 100 < 85 AS in_train,
      count(*) AS n, round(sum(value), 2) AS sum_v
    FROM events GROUP BY 1, 2
  """

  private val q35 = """
    WITH s AS (
      SELECT user_id, CAST(event_id % 10 AS INT) AS sample_id,
        round(sum(value), 2) / count(*) AS m
      FROM events GROUP BY 1, 2)
    SELECT user_id,
      round(quantile_cont(m, 0.5), 6) AS p50,
      round(quantile_cont(m, 0.025), 6) AS p025,
      round(quantile_cont(m, 0.975), 6) AS p975,
      count(*) AS n_samples
    FROM s GROUP BY 1
  """

  private val j01 = """
    SELECT user_id,
      CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      max(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
      count(CAST(json_extract(props, '$.k') AS INT)) AS n_k,
      count(*) AS n_rows
    FROM events GROUP BY 1
  """

  private val m01 = """
    SELECT doc_id,
      CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      hex(substring(text, 1, 4)) AS magic_hex,
      CAST(ceil(octet_length(CAST(text AS BLOB)) / 64.0) AS BIGINT) AS n_chunks,
      ascii(substring(text, 1, 1)) AS f_first_byte,
      ascii(substring(text, len(text), 1)) AS f_last_byte,
      md5(text) AS f_content_hash
    FROM documents
  """

  private val m02 = """
    SELECT doc_id, CAST(g AS INT) AS chunk_idx,
      CAST(len(substring(text, CAST(g * 64 + 1 AS INT), 64)) AS BIGINT) AS chunk_len,
      md5(substring(text, CAST(g * 64 + 1 AS INT), 64)) AS chunk_hash,
      ascii(substring(substring(text, CAST(g * 64 + 1 AS INT), 64), 1, 1)) AS f_first_byte
    FROM documents, UNNEST(range(0, CAST(ceil(len(text) / 64.0) AS BIGINT))) AS t(g)
    WHERE g % 4 = 0
  """

  private val m04 = """
    SELECT md5(text) AS digest,
      count(*) AS n_blobs,
      min(doc_id) AS keeper_id,
      CAST(min(octet_length(CAST(text AS BLOB))) AS BIGINT) AS n_bytes,
      count(*) >= 2 AS is_dup
    FROM documents
    GROUP BY 1
  """

  // chunk grid mirrors m02's convention (ASCII corpus: byte chunks ==
  // char chunks); empty docs excluded on both engines
  private val m05 = """
    WITH ch AS (
      SELECT DISTINCT doc_id,
        md5(substring(text, CAST(g * 64 + 1 AS INT), 64)) AS h
      FROM documents, UNNEST(range(0, CAST(ceil(len(text) / 64.0) AS BIGINT))) AS t(g)
      WHERE len(text) > 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n_ch FROM ch GROUP BY 1),
    keep AS (SELECT h FROM ch GROUP BY h HAVING count(*) BETWEEN 2 AND 50),
    capped AS (SELECT ch.doc_id, ch.h FROM ch SEMI JOIN keep ON ch.h = keep.h),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
      FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.a_id, p.b_id, p.shared, sa.n_ch AS na, sb.n_ch AS nb,
      round(CAST(p.shared AS DOUBLE) / least(sa.n_ch, sb.n_ch) * 1e6) / 1e6 AS containment
    FROM pairs p
    JOIN sizes sa ON p.a_id = sa.doc_id
    JOIN sizes sb ON p.b_id = sb.doc_id
    WHERE round(CAST(p.shared AS DOUBLE) / least(sa.n_ch, sb.n_ch) * 1e6) / 1e6 >= 0.5
  """

  private val q37 = """
    WITH m AS (SELECT user_id, round(max(value) * 0.05, 6) AS thr FROM events GROUP BY 1),
    d0 AS (
      SELECT e.user_id, CAST(e.ts AS DATE) AS day,
        max(CASE WHEN e.value > m.thr THEN date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 END)
          - min(CASE WHEN e.value > m.thr THEN date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 END) AS dl_h,
        round(sum(date_diff('second', date_trunc('day', e.ts), e.ts) * e.value), 2) AS num_sv,
        round(sum(e.value), 2) AS sum_v
      FROM events e JOIN m ON e.user_id = m.user_id
      GROUP BY 1, 2),
    d AS (
      SELECT user_id, day, dl_h,
        num_sv / 3600.0 / nullif(sum_v, 0.0) AS com_hour
      FROM d0),
    est AS (
      SELECT user_id, day,
        atan(-cos(7.5 * dl_h * 0.017453292519943295)
             / tan((23.45 * sin(6.283185307179586 * (dayofyear(day) + 284.0) / 365.0)) * 0.017453292519943295)) * 57.29577951308232 AS lat_day,
        -15.0 * (com_hour - 12.0 + (229.18 * (0.000075
            + 0.001868 * cos(6.283185307179586 * (dayofyear(day) - 1.0) / 365.0)
            - 0.032077 * sin(6.283185307179586 * (dayofyear(day) - 1.0) / 365.0)
            - 0.014615 * cos(2.0 * (6.283185307179586 * (dayofyear(day) - 1.0) / 365.0))
            - 0.04089 * sin(2.0 * (6.283185307179586 * (dayofyear(day) - 1.0) / 365.0)))) / 60.0) AS lon_day
      FROM d)
    SELECT user_id, round(quantile_cont(lat_day, 0.5), 6) AS lat_est,
      round(quantile_cont(lon_day, 0.5), 6) AS lon_est, count(*) AS n_days
    FROM est GROUP BY 1
  """

  // q60: q37's location inversion restricted to the estimator's
  // day-interval window (doy strictly inside (5, 25) — the events table spans January, so the window must cut INSIDE it to exercise the filter with rows on both sides); the filter
  // applies BEFORE the threshold scan so both engines see one table.
  private val q60 = """
    WITH ev AS (
      SELECT * FROM events WHERE dayofyear(CAST(ts AS DATE)) > 5 AND dayofyear(CAST(ts AS DATE)) < 25),
    m AS (SELECT user_id, round(max(value) * 0.05, 6) AS thr FROM ev GROUP BY 1),
    d0 AS (
      SELECT e.user_id, CAST(e.ts AS DATE) AS day,
        max(CASE WHEN e.value > m.thr THEN date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 END)
          - min(CASE WHEN e.value > m.thr THEN date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 END) AS dl_h,
        round(sum(date_diff('second', date_trunc('day', e.ts), e.ts) * e.value), 2) AS num_sv,
        round(sum(e.value), 2) AS sum_v
      FROM ev e JOIN m ON e.user_id = m.user_id
      GROUP BY 1, 2),
    d AS (
      SELECT user_id, day, dl_h,
        num_sv / 3600.0 / nullif(sum_v, 0.0) AS com_hour
      FROM d0),
    est AS (
      SELECT user_id, day,
        atan(-cos(7.5 * dl_h * 0.017453292519943295)
             / tan((23.45 * sin(6.283185307179586 * (dayofyear(day) + 284.0) / 365.0)) * 0.017453292519943295)) * 57.29577951308232 AS lat_day,
        -15.0 * (com_hour - 0.0 - 12.0 + (229.18 * (0.000075
            + 0.001868 * cos(6.283185307179586 * (dayofyear(day) - 1.0) / 365.0)
            - 0.032077 * sin(6.283185307179586 * (dayofyear(day) - 1.0) / 365.0)
            - 0.014615 * cos(2.0 * (6.283185307179586 * (dayofyear(day) - 1.0) / 365.0))
            - 0.04089 * sin(2.0 * (6.283185307179586 * (dayofyear(day) - 1.0) / 365.0)))) / 60.0) AS lon_day
      FROM d)
    SELECT user_id, round(quantile_cont(lat_day, 0.5), 6) AS lat_est,
      round(quantile_cont(lon_day, 0.5), 6) AS lon_est, count(*) AS n_days
    FROM est GROUP BY 1
  """

  // p06: the fleet pipeline's relational spine re-derived from raw
  // events — day count over null-cleaned rows and the p95 capacity
  // (quantile_cont matches Spark's exact `percentile` interpolation,
  // the q17 contract).
  private val p06 = """
    SELECT user_id AS site,
      count(DISTINCT CAST(ts AS DATE)) AS n_days,
      round(quantile_cont(value, 0.95), 6) AS capacity
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY 1
  """

  // d29: HLL calibration floor gate — exact distinct is SQL-derivable;
  // the sketch estimates are engine-specific, so the oracle asserts
  // the calibration bounds as known-true literals (a blown bound on
  // the Spark side breaks the hash).
  private val d29 = s"""
    SELECT source, count(DISTINCT $fp) AS exact_distinct,
      true AS coarse_ok, true AS fine_ok
    FROM documents GROUP BY 1
  """

  // e09: per-query property gate over the TRAINED IVF serving path —
  // the five invariants hold for every query id by construction of a
  // correct top-k; the oracle emits them as literals per query.
  private val e09 = """
    SELECT vec_id AS query_id,
      true AS k_rows, true AS ranks_contiguous, true AS no_self,
      true AS neighbors_distinct, true AS cosine_bounded
    FROM embeddings WHERE vec_id < 16
  """

  // e10/e11: the e09 pattern over the TRAINED PQ-ADC / IVF-PQ serving
  // paths — per-query invariants of a correct ADC top-k, emitted as
  // known-true literals (sf-calibration caveat noted at the queries:
  // k_rows assumes enough non-self members at the probed cells).
  private val e1011 = """
    SELECT vec_id AS query_id,
      true AS k_rows, true AS ranks_contiguous, true AS no_self,
      true AS neighbors_distinct, true AS adc_nonneg
    FROM embeddings WHERE vec_id < 16
  """

  // d41: the full NB train+score path replayed — token hash buckets,
  // per-class counts, add-one LLR weights quantized to integer micros
  // (integer per-doc sums: order-free, no float drift), verdict at 0.
  private val d41 = """
    WITH toks AS (
      SELECT doc_id, source = 'src0' AS good,
        CAST('0x' || substring(md5(tok), 1, 12) AS BIGINT) % 2147483647 % 256 AS bucket
      FROM (
        SELECT doc_id, source,
          unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents) u
      WHERE tok <> ''),
    counts AS (
      SELECT bucket,
        sum(CASE WHEN good THEN 1 ELSE 0 END) AS c_good,
        sum(CASE WHEN good THEN 0 ELSE 1 END) AS c_bad
      FROM toks GROUP BY 1),
    tot AS (SELECT sum(c_good) AS t_good, sum(c_bad) AS t_bad FROM counts),
    w AS (
      SELECT bucket,
        CAST(round((ln((c_good + 1.0) / (t_good + 256.0))
          - ln((c_bad + 1.0) / (t_bad + 256.0))) * 1e6, 0) AS BIGINT) AS w_micro
      FROM counts CROSS JOIN tot)
    SELECT t.doc_id, count(*) AS n_toks,
      CAST(sum(w.w_micro) AS BIGINT) AS score_micro,
      sum(w.w_micro) > 0 AS quality
    FROM toks t JOIN w ON t.bucket = w.bucket
    GROUP BY 1
  """

  // d42: d41's exact integer scores + the fingerprint window — keep
  // the best-scoring member of each exact-dup group, ties to min id.
  private val d42 = """
    WITH toks AS (
      SELECT doc_id, source = 'src0' AS good,
        CAST('0x' || substring(md5(tok), 1, 12) AS BIGINT) % 2147483647 % 256 AS bucket
      FROM (
        SELECT doc_id, source,
          unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents) u
      WHERE tok <> ''),
    counts AS (
      SELECT bucket,
        sum(CASE WHEN good THEN 1 ELSE 0 END) AS c_good,
        sum(CASE WHEN good THEN 0 ELSE 1 END) AS c_bad
      FROM toks GROUP BY 1),
    tot AS (SELECT sum(c_good) AS t_good, sum(c_bad) AS t_bad FROM counts),
    w AS (
      SELECT bucket,
        CAST(round((ln((c_good + 1.0) / (t_good + 256.0))
          - ln((c_bad + 1.0) / (t_bad + 256.0))) * 1e6, 0) AS BIGINT) AS w_micro
      FROM counts CROSS JOIN tot),
    scores AS (
      SELECT t.doc_id, CAST(sum(w.w_micro) AS BIGINT) AS score_micro
      FROM toks t JOIN w ON t.bucket = w.bucket GROUP BY 1),
    fps AS (
      SELECT d.doc_id,
        md5(substring(regexp_replace(lower(d.text), '[^a-z0-9]', '', 'g'), 1, 40)) AS fp,
        s.score_micro
      FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id)
    SELECT doc_id, fp,
      count(*) OVER (PARTITION BY fp) AS group_n,
      score_micro AS score,
      (row_number() OVER (PARTITION BY fp
         ORDER BY score_micro DESC NULLS LAST, doc_id ASC)) = 1 AS keep
    FROM fps
  """

  private val q38 = """
    WITH m AS (SELECT user_id, max(value) AS site_max FROM events GROUP BY 1),
    g AS (
      SELECT e.user_id, e.ts, e.value, t.thr_frac,
        round(m.site_max * t.thr_frac, 6) AS thr
      FROM events e
      JOIN m ON e.user_id = m.user_id
      CROSS JOIN (SELECT unnest([CAST(0.02 AS DOUBLE), CAST(0.05 AS DOUBLE),
                                 CAST(0.1 AS DOUBLE), CAST(0.15 AS DOUBLE)]) AS thr_frac) t),
    daily AS (
      SELECT user_id, thr_frac, CAST(ts AS DATE) AS day,
        max(CASE WHEN value > thr THEN date_diff('second', date_trunc('day', ts), ts) / 3600.0 END)
        - min(CASE WHEN value > thr THEN date_diff('second', date_trunc('day', ts), ts) / 3600.0 END) AS dl_h
      FROM g GROUP BY 1, 2, 3),
    scored AS (
      SELECT user_id, thr_frac, max(dl_h) - min(dl_h) AS dl_range
      FROM daily GROUP BY 1, 2
      HAVING max(dl_h) - min(dl_h) IS NOT NULL),
    r AS (
      SELECT user_id, thr_frac, dl_range,
        row_number() OVER (PARTITION BY user_id ORDER BY dl_range ASC, thr_frac ASC) AS rn
      FROM scored)
    SELECT user_id, thr_frac AS best_thr, round(dl_range, 6) AS dl_range FROM r WHERE rn = 1
  """

  private val q39 = """
    WITH ev AS (
      SELECT user_id, CAST(event_id % 5 AS INT) AS fold,
        date_diff('second', date_trunc('day', ts), ts) / 3600.0 AS x, value
      FROM events),
    pf AS (
      SELECT user_id, fold, count(*) AS fn, sum(x) AS fsx, sum(value) AS fsy,
        sum(x * value) AS fsxy, sum(x * x) AS fsxx, sum(value * value) AS fsyy
      FROM ev GROUP BY 1, 2),
    tt AS (
      SELECT user_id, CAST(sum(fn) AS BIGINT) AS tn, sum(fsx) AS tsx, sum(fsy) AS tsy,
        sum(fsxy) AS tsxy, sum(fsxx) AS tsxx
      FROM pf GROUP BY 1),
    loo AS (
      SELECT pf.user_id, pf.fold, pf.fn, pf.fsx, pf.fsy, pf.fsxy, pf.fsxx, pf.fsyy,
        tt.tn - pf.fn AS rn, tt.tsx - pf.fsx AS rsx, tt.tsy - pf.fsy AS rsy,
        tt.tsxy - pf.fsxy AS rsxy, tt.tsxx - pf.fsxx AS rsxx
      FROM pf JOIN tt ON pf.user_id = tt.user_id),
    sl AS (SELECT *, (rn * rsxy - rsx * rsy) / nullif(rn * rsxx - rsx * rsx, 0.0) AS slope FROM loo),
    ic AS (SELECT *, (rsy - slope * rsx) / nullif(CAST(rn AS DOUBLE), 0.0) AS icept FROM sl),
    ss AS (
      SELECT user_id, fold, fn,
        fsyy + fn * icept * icept + slope * slope * fsxx
          - 2.0 * icept * fsy - 2.0 * slope * fsxy + 2.0 * icept * slope * fsx AS sse
      FROM ic),
    fr AS (SELECT user_id, sqrt(greatest(sse / fn, 0.0)) AS fold_rmse FROM ss)
    SELECT user_id, round(avg(fold_rmse), 4) AS cv_rmse, count(*) AS n_folds
    FROM fr GROUP BY 1
  """

  private val q40 = """
    SELECT user_id, round(sum(value), 2) AS sum_v, count(*) AS n
    FROM events GROUP BY 1
  """

  private val q41 = """
    WITH d AS (
      SELECT user_id,
        date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) AS dt_s
      FROM events),
    r AS (SELECT user_id,
            CAST(CASE WHEN dt_s < 10 THEN greatest(round(dt_s), 1)
                 ELSE round(dt_s / 10.0) * 10 END AS BIGINT) AS dt_r
          FROM d WHERE dt_s IS NOT NULL),
    c AS (SELECT user_id, dt_r, count(*) AS cnt FROM r GROUP BY 1, 2),
    t AS (SELECT user_id, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY 1),
    sh AS (
      SELECT c.user_id, round(CAST(c.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS share
      FROM c JOIN t ON c.user_id = t.user_id)
    SELECT user_id,
      CAST(sum(CASE WHEN share >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_rates_5pct,
      max(share) AS top_share,
      (CAST(sum(CASE WHEN share >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) > 1) AS multi_rate
    FROM sh GROUP BY 1
  """

  private val q42 = """
    WITH d AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
        round(sum(date_diff('second', date_trunc('day', ts), ts) * value), 2) AS num_sv,
        round(sum(value), 2) AS sum_v
      FROM events GROUP BY 1, 2),
    c AS (SELECT user_id, day, num_sv / 3600.0 / nullif(sum_v, 0.0) AS com_hour FROM d),
    j AS (
      SELECT user_id, day, com_hour,
        com_hour - lag(com_hour) OVER (PARTITION BY user_id ORDER BY day) AS jump
      FROM c),
    f AS (
      SELECT user_id, day, com_hour, jump,
        CASE WHEN jump IS NOT NULL AND abs(jump) >= 0.8 AND abs(jump) <= 1.5
             THEN CAST(round(jump) AS INT) ELSE 0 END AS shift_h
      FROM j),
    s AS (
      SELECT user_id, day, com_hour, jump,
        CAST(sum(shift_h) OVER (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS cum_shift_h
      FROM f)
    SELECT user_id, CAST(day AS VARCHAR) AS day, round(com_hour * 1000000.0) / 1000000.0 AS com_hour,
      round(jump * 1000000.0) / 1000000.0 AS jump, cum_shift_h,
      round((com_hour - cum_shift_h) * 1000000.0) / 1000000.0 AS com_repaired
    FROM s
  """

  private val q43 = """
    WITH d AS (
      SELECT user_id, ts,
        date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) AS dt_s
      FROM events),
    r AS (
      SELECT user_id, ts,
        CASE WHEN dt_s <= 60 THEN 60 WHEN dt_s <= 600 THEN 600
             WHEN dt_s <= 3600 THEN 3600 ELSE 86400 END AS dt_r,
        date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS e
      FROM d WHERE dt_s IS NOT NULL),
    f AS (
      SELECT user_id, ts, dt_r, e,
        CASE WHEN dt_r IS NOT DISTINCT FROM lag(dt_r) OVER (PARTITION BY user_id ORDER BY ts)
             THEN 0 ELSE 1 END AS new_seg
      FROM r),
    s AS (
      SELECT user_id, dt_r, e,
        sum(new_seg) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      FROM f)
    SELECT user_id, CAST(seg_id AS INT) AS seg_id, CAST(min(dt_r) AS BIGINT) AS rate_s,
      count(*) AS n_deltas, min(e) AS start_e, max(e) AS end_e
    FROM s GROUP BY 1, 2
    HAVING count(*) >= 5
  """

  private val q44 = """
    WITH b AS (
      SELECT e.user_id, t.f,
        date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 AS x,
        e.value
      FROM events e
      CROSS JOIN (SELECT unnest([0, 1, 2]) AS f) t
      WHERE t.f = 0
         OR (t.f = 1 AND date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 >= 6.0
                     AND date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 <= 18.0)
         OR (t.f = 2 AND e.value > 0.0)),
    a AS (
      SELECT user_id, f, count(*) AS n, sum(x) AS sx, sum(value) AS sy,
        sum(x * value) AS sxy, sum(x * x) AS sxx, sum(value * value) AS syy
      FROM b GROUP BY 1, 2),
    s AS (
      SELECT user_id, f, n, sx, sy, sxy, sxx, syy,
        (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) AS slope
      FROM a),
    e2 AS (
      SELECT *, (syy - (sy * sy) / nullif(CAST(n AS DOUBLE), 0.0))
              - slope * slope * (sxx - (sx * sx) / nullif(CAST(n AS DOUBLE), 0.0)) AS sse
      FROM s),
    r AS (SELECT *, sqrt(greatest(sse / nullif(CAST(n AS DOUBLE), 0.0), 0.0)) AS rmse FROM e2),
    best AS (
      SELECT user_id, CAST(f AS INT) AS best_f, round(rmse, 4) AS best_rmse
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY rmse ASC, f ASC) AS rn FROM r) t
      WHERE rn = 1),
    c AS (
      SELECT user_id, count(*) AS n_filters,
        (count(DISTINCT CASE WHEN slope > 0 THEN 1 WHEN slope < 0 THEN -1 ELSE 0 END) = 1) AS consistent
      FROM r GROUP BY 1)
    SELECT best.user_id, best.best_f, best.best_rmse, c.n_filters, c.consistent
    FROM best JOIN c ON best.user_id = c.user_id
  """

  private val q45 = """
    WITH base AS (
      SELECT user_id, round(sum(value), 2) AS b, count(*) AS n,
        CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
        CAST(sum(CASE WHEN value > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        max(value) AS mx,
        round(quantile_cont(value, 0.95), 4) AS p95r
      FROM events GROUP BY 1),
    f AS (
      SELECT user_id, b,
        round(1.0 - CAST(n_err AS DOUBLE) / n, 4) AS f1,
        round(p95r / nullif(mx, 0.0), 4) AS f2,
        round(CAST(n_pos AS DOUBLE) / n, 4) AS f3,
        round((b / n) / nullif(p95r, 0.0), 4) AS f4
      FROM base),
    mi AS (
      SELECT f.*, CAST(g AS INT) AS mask, CAST(i AS INT) AS i,
        CASE CAST(i AS INT) WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS bit
      FROM f, UNNEST(range(0, 16)) AS t(g), UNNEST(range(0, 4)) AS u(i)
      WHERE (CAST(g AS INT) & CASE CAST(i AS INT) WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END) = 0),
    v AS (
      SELECT user_id, i,
        CASE bit_count(mask) WHEN 0 THEN 0.25 WHEN 1 THEN 1.0/12 WHEN 2 THEN 1.0/12 ELSE 0.25 END
          * ( b * (CASE WHEN ((mask + bit) & 1) <> 0 THEN f1 ELSE 1.0 END)
                * (CASE WHEN ((mask + bit) & 2) <> 0 THEN f2 ELSE 1.0 END)
                * (CASE WHEN ((mask + bit) & 4) <> 0 THEN f3 ELSE 1.0 END)
                * (CASE WHEN ((mask + bit) & 8) <> 0 THEN f4 ELSE 1.0 END)
            - b * (CASE WHEN (mask & 1) <> 0 THEN f1 ELSE 1.0 END)
                * (CASE WHEN (mask & 2) <> 0 THEN f2 ELSE 1.0 END)
                * (CASE WHEN (mask & 4) <> 0 THEN f3 ELSE 1.0 END)
                * (CASE WHEN (mask & 8) <> 0 THEN f4 ELSE 1.0 END)) AS marg
      FROM mi)
    SELECT user_id, i AS factor, round(sum(marg), 6) AS phi
    FROM v GROUP BY 1, 2
  """

  private val q46 = """
    WITH m AS (
      SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS day_max
      FROM events GROUP BY 1, 2),
    b AS (
      SELECT e.user_id, e.value / m.day_max AS np,
        CAST(round((15.0 * (date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 - 12.0)) / 2.0) * 2 AS INT) AS az_bin,
        CAST(round(asin(greatest(-1.0, least(1.0,
          0.6087614290087207 * sin((23.45 * sin(6.283185307179586 * (dayofyear(CAST(e.ts AS DATE)) + 284.0) / 365.0)) * 0.017453292519943295)
          + 0.7933533402912352 * cos((23.45 * sin(6.283185307179586 * (dayofyear(CAST(e.ts AS DATE)) + 284.0) / 365.0)) * 0.017453292519943295)
            * cos((15.0 * (date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 - 12.0)) * 0.017453292519943295)
        ))) * 57.29577951308232) AS INT) AS el_bin
      FROM events e
      JOIN m ON e.user_id = m.user_id AND CAST(e.ts AS DATE) = m.day
      WHERE m.day_max > 0)
    SELECT user_id, az_bin, el_bin, count(*) AS n, round(sum(np), 6) AS sum_np
    FROM b WHERE el_bin >= 0 GROUP BY 1, 2, 3
  """

  private val q47 = """
    WITH d AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
        round(sum(date_diff('second', date_trunc('day', ts), ts) * value), 2) AS num_sv,
        round(sum(value), 2) AS sum_v
      FROM events GROUP BY 1, 2),
    c AS (SELECT user_id, day, num_sv / 3600.0 / nullif(sum_v, 0.0) AS com_hour FROM d),
    j AS (
      SELECT user_id, day, com_hour,
        com_hour - lag(com_hour) OVER (PARTITION BY user_id ORDER BY day) AS jump
      FROM c),
    f AS (
      SELECT user_id, day, jump,
        CASE WHEN jump IS NOT NULL AND abs(jump) >= 0.8 AND abs(jump) <= 1.5
             THEN CAST(round(jump) AS INT) ELSE 0 END AS shift_h
      FROM j),
    s AS (
      SELECT user_id, day,
        CAST(sum(shift_h) OVER (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS cum_shift_h
      FROM f)
    SELECT e.event_id, e.user_id, s.cum_shift_h,
      epoch_us(e.ts) AS us_orig,
      epoch_us(e.ts - s.cum_shift_h * INTERVAL 1 HOUR) AS us_repaired
    FROM events e
    JOIN s ON e.user_id = s.user_id AND CAST(e.ts AS DATE) = s.day
  """

  private val clipStatsCte = """
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS daily_max
      FROM events GROUP BY 1, 2),
    site AS (SELECT user_id, max(daily_max) AS site_max FROM daily GROUP BY 1),
    sums AS (
      SELECT e.user_id, d.day, d.daily_max,
        sum(CASE WHEN e.value / d.daily_max > 0.995 THEN e.value / d.daily_max ELSE 0 END) AS sum_clip,
        sum(e.value / d.daily_max) AS sum_np
      FROM events e
      JOIN daily d ON e.user_id = d.user_id AND CAST(e.ts AS DATE) = d.day
      WHERE d.daily_max > 0
      GROUP BY 1, 2, 3)
  """

  private val q48 = s"""
    WITH $clipStatsCte
    SELECT s.user_id, CAST(s.day AS VARCHAR) AS day,
      round(s.daily_max / m.site_max * 1000000.0) / 1000000.0 AS clip1,
      round(s.sum_clip / nullif(s.sum_np, 0) * 1000000.0) / 1000000.0 AS clip2
    FROM sums s JOIN site m ON s.user_id = m.user_id
  """

  private val q49 = s"""
    WITH $clipStatsCte,
    cs AS (
      SELECT s.user_id, s.day, s.daily_max / m.site_max AS clip1,
        round(s.sum_clip / nullif(s.sum_np, 0) * 1000000.0) / 1000000.0 AS clip2r
      FROM sums s JOIN site m ON s.user_id = m.user_id),
    masses AS (
      SELECT user_id, round(clip1 / 0.01) * 0.01 AS mass, count(*) AS n_bucket
      FROM cs GROUP BY 1, 2 HAVING count(*) >= 3),
    clipped AS (
      SELECT user_id, count(*) AS n_clipped FROM (
        SELECT DISTINCT c.user_id, c.day
        FROM cs c JOIN masses m ON c.user_id = m.user_id
        WHERE c.clip1 > 0.05 AND c.clip2r > 0.1 AND abs(c.clip1 - m.mass) < 0.0075)
      GROUP BY 1),
    nm AS (SELECT user_id, count(*) AS n_point_masses FROM masses GROUP BY 1),
    nd AS (SELECT user_id, count(*) AS n_days FROM cs GROUP BY 1)
    SELECT nd.user_id, nd.n_days,
      CAST(coalesce(nc.n_clipped, 0) AS BIGINT) AS n_clipped,
      CAST(coalesce(nm.n_point_masses, 0) AS BIGINT) AS n_point_masses,
      coalesce(nc.n_clipped, 0) > nd.n_days * 0.01 AS inverter_clipping
    FROM nd
    LEFT JOIN clipped nc ON nd.user_id = nc.user_id
    LEFT JOIN nm ON nd.user_id = nm.user_id
  """

  // q93: the clipped-times mask census — the q49 derivation extended
  // one level down: every sample's (1%-of-a-point-mass on the
  // site-max scale) ∧ (≥98% of its day's max) ∧ (site verdict) test
  // is replayed row by row, so the hash gates each mask bit. All
  // comparisons are raw IEEE divide/abs/compare on bit-identical
  // inputs (the q49 contract).
  private val q93 = s"""
    WITH $clipStatsCte,
    cs AS (
      SELECT s.user_id, s.day, s.daily_max, m.site_max,
        s.daily_max / m.site_max AS clip1,
        round(s.sum_clip / nullif(s.sum_np, 0) * 1000000.0) / 1000000.0 AS clip2r
      FROM sums s JOIN site m ON s.user_id = m.user_id),
    masses AS (
      SELECT user_id, round(clip1 / 0.01) * 0.01 AS mass, count(*) AS n_bucket
      FROM cs GROUP BY 1, 2 HAVING count(*) >= 3),
    clipdays AS (
      SELECT user_id, count(*) AS n_clipped FROM (
        SELECT DISTINCT c.user_id, c.day
        FROM cs c JOIN masses m ON c.user_id = m.user_id
        WHERE c.clip1 > 0.05 AND c.clip2r > 0.1 AND abs(c.clip1 - m.mass) < 0.0075)
      GROUP BY 1),
    verdict AS (
      SELECT d.user_id, coalesce(c.n_clipped, 0) > d.n_days * 0.01 AS clipping_site
      FROM (SELECT user_id, count(*) AS n_days FROM cs GROUP BY 1) d
      LEFT JOIN clipdays c ON d.user_id = c.user_id)
    SELECT e.user_id, CAST(CAST(e.ts AS DATE) AS VARCHAR) AS day,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(CASE WHEN v.clipping_site
        AND EXISTS (SELECT 1 FROM masses m
                    WHERE m.user_id = e.user_id
                      AND abs(e.value / c.site_max - m.mass) < 0.01)
        AND c.daily_max IS NOT NULL AND c.daily_max <> 0
        AND e.value / c.daily_max >= 0.98
        THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM events e
    LEFT JOIN cs c ON e.user_id = c.user_id AND CAST(e.ts AS DATE) = c.day
    LEFT JOIN verdict v ON e.user_id = v.user_id
    GROUP BY 1, 2
  """

  // q94: SCSF performance index — the measured-energy side replayed
  // EXACTLY on the p03 dilation grain (integer micro-units of the
  // 6-dp dil values), the fitted side gated finite (a diverged
  // quantile fit breaks the boolean, a missing day breaks the hash).
  private val q94 = s"""
    WITH ${dilationCte(40)}
    SELECT site, day,
      CAST(sum(CAST(round(dil_value * 1000000.0) AS BIGINT)) AS BIGINT) AS measured_micro,
      CAST(count(*) AS BIGINT) AS n_slots,
      true AS scsf_finite
    FROM dil GROUP BY 1, 2
  """

  // q95: calendar circular distribution of good days — the q19
  // good-day rule re-derived, then integer-exact year-circle binning
  // (floor(doy·bins/365); explicit floor because DuckDB's double→int
  // CAST rounds while Spark's truncates).
  private val q95 = """
    WITH flags AS (
      SELECT user_id AS site, CAST(ts AS DATE) AS day,
        count(value) AS n_obs, avg(value) AS avg_v
      FROM events GROUP BY 1, 2),
    good AS (
      SELECT site, day FROM flags WHERE n_obs >= 5 AND avg_v > 0.0)
    SELECT site AS user_id,
      CAST(floor(((dayofyear(day) - 1) % 365) * 48 / 365.0) AS INT) AS bin,
      round((CAST(floor(((dayofyear(day) - 1) % 365) * 48 / 365.0) AS INT) + 0.5)
        * (2.0 * pi() / 48.0), 6) AS theta_center,
      CAST(count(*) AS BIGINT) AS n_days
    FROM good GROUP BY 1, 2, 3
  """

  // q97: CDF point-mass analysis — the empirical-CDF resample
  // value-replayed: xs = [0] ++ sorted positive clip1 ++ [1] with
  // ys = linspace (j/(m−1)); for each grid q = k/(gp−1),
  // searchsorted-left = count(xs < q) clamped to [1, m−1] (exact
  // integer comparisons of identical doubles), then the
  // interpolation expression mirrored token-for-token; nano-lifted
  // with floor(x·1e9 + 0.5) (representation-free — the q98 lesson).
  // Fit-derived columns are construction-true literals (d29 idiom).
  private val q97 = s"""
    WITH $clipStatsCte,
    pos AS (
      SELECT s.user_id AS site, s.daily_max / m.site_max AS v
      FROM sums s JOIN site m ON s.user_id = m.user_id
      WHERE s.daily_max / m.site_max > 0),
    xsmid AS (
      SELECT site, v, row_number() OVER (PARTITION BY site ORDER BY v) AS i
      FROM pos),
    mcnt AS (SELECT site, count(*) AS np FROM pos GROUP BY 1),
    xs AS (
      SELECT site, 0 AS i, 0.0 AS x FROM mcnt
      UNION ALL SELECT site, CAST(i AS INT), v FROM xsmid
      UNION ALL SELECT site, CAST(np + 1 AS INT), 1.0 FROM mcnt),
    grid AS (
      SELECT m.site, CAST(k.k AS INT) AS i,
        CAST(k.k AS DOUBLE) / (500 - 1) AS q, m.np + 2 AS m
      FROM mcnt m CROSS JOIN (SELECT unnest(range(500)) AS k) k),
    sel AS (
      SELECT g.site, g.i, g.q, g.m,
        least(greatest(count(CASE WHEN x.x < g.q THEN 1 END), 1), g.m - 1) AS hi
      FROM grid g JOIN xs x ON x.site = g.site
      GROUP BY 1, 2, 3, 4),
    interp AS (
      SELECT s.site, s.i, s.q,
        CAST(s.hi - 1 AS DOUBLE) / (s.m - 1) +
          (CAST(s.hi AS DOUBLE) / (s.m - 1) - CAST(s.hi - 1 AS DOUBLE) / (s.m - 1))
            / (xhi.x - xlo.x) * (s.q - xlo.x) AS ye
      FROM sel s
      JOIN xs xlo ON xlo.site = s.site AND xlo.i = s.hi - 1
      JOIN xs xhi ON xhi.site = s.site AND xhi.i = s.hi)
    SELECT site, i,
      CAST(floor(q * 1000000000.0 + 0.5) AS BIGINT) AS x_nano,
      CAST(floor(ye * 1000000000.0 + 0.5) AS BIGINT) AS y_emp_nano,
      true AS fit_finite,
      true AS d1_aligned,
      true AS metric_aligned,
      true AS pm_interior
    FROM interp
  """

  // q98: SCSF performance index on the undilated grid — the measured
  // side replayed value-exactly: the 16-bin dilation replay (p02's
  // CTE) lifted to integer micro-units (the q94 lift — a 6-dp scale
  // round on the undilated floats instead hit the q64-class
  // cross-engine half-boundary), undilated onto an 8-slot grid with
  // the q56 overlap-term arithmetic (powers of two ⇒ dh = 2·dg exact,
  // two full-overlap terms per out slot, order-immune sums),
  // floor(x + 0.5)-quantized per out slot (representation-free on
  // both engines, unlike scale-0 round — see the SparkEntry q98 note)
  // and summed as longs per day. The clear-sky/PI boolean is a
  // known-true literal — the solver side is p03-gated.
  private val q98 = s"""
    WITH ${dilationCte(16)},
    ugrid AS (
      SELECT d.site, d.day, o.rise AS rise_h, o.set_h, d.dil_slot,
        CAST(CAST(floor(d.dil_raw * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) AS dv
      FROM dil d JOIN dok o ON d.site = o.site AND d.day = o.day),
    uterms AS (
      SELECT g.site, g.day, CAST(k.k AS INT) AS out_slot,
        (g.set_h - g.rise_h) / 8.0 AS dh,
        least(g.rise_h + (k.k + 1) * ((g.set_h - g.rise_h) / 8.0),
              g.rise_h + (g.dil_slot + 1) * ((g.set_h - g.rise_h) / 16.0)) AS hi,
        greatest(g.rise_h + k.k * ((g.set_h - g.rise_h) / 8.0),
                 g.rise_h + g.dil_slot * ((g.set_h - g.rise_h) / 16.0)) AS lo,
        g.dv
      FROM ugrid g CROSS JOIN (SELECT unnest(range(8)) AS k) k),
    und AS (
      SELECT site, day, out_slot,
        CAST(floor(sum(CASE WHEN hi > lo THEN dv * (hi - lo) ELSE 0 END) / any_value(dh) + 0.5) AS BIGINT) AS um
      FROM uterms GROUP BY 1, 2, 3)
    SELECT site, day,
      CAST(sum(um) AS BIGINT) AS measured_micro,
      CAST(count(*) AS BIGINT) AS n_slots
    FROM und GROUP BY 1, 2
  """

  // q100: the Sandia/pvlib ephemeris (Solar.ephemerisPosition, the
  // native graft_solar_position) replayed term-for-term: staged CTEs
  // follow the expression's steps (Kepler as 5 chained REPLACEs), pmod as the
  // double-fmod composition (Java % on doubles IS IEEE fmod, so the
  // composition is bit-identical cross-engine), second() floored to
  // mirror Spark's integer truncation on the microsecond stamps.
  // Outputs at 1e-4-degree integer grain (floor(x·1e4 + 0.5), the
  // representation-free lift): raw doubles agree to ~1e-11 across
  // engines (probed), so the tenth-millidegree grain absorbs the
  // transcendental-libm ulp noise with ~1e-7 flip odds per row.
  private val q100 = s"""
    WITH s1 AS (
      SELECT event_id, 37.5 AS lat, -122.0 AS lon,
        CAST(year(ts) - 1900 AS DOUBLE) AS yr,
        hour(ts) + minute(ts)/60.0 + floor(second(ts))/3600.0 AS uh,
        CAST(dayofyear(ts) AS DOUBLE) AS doy
      FROM events),
    s2 AS (SELECT *, 365.0*yr + floor((yr - 1.0)/4.0) - 0.5 + doy AS ez FROM s1),
    s3 AS (
      SELECT *,
        360.0 * ((6.0/24.0 + 38.0/1440.0 + (45.836 + 8640184.542*(ez/36525.0)
            + 0.0929*(ez/36525.0)*(ez/36525.0))/86400.0)
          - floor(6.0/24.0 + 38.0/1440.0 + (45.836 + 8640184.542*(ez/36525.0)
            + 0.0929*(ez/36525.0)*(ez/36525.0))/86400.0)) AS gmst0,
        ez + uh/24.0 AS epoch
      FROM s2),
    s4 AS (
      SELECT *,
        fmod(fmod(360.0 + lon + fmod(fmod(gmst0 + 360.0*(1.0027379093*uh/24.0), 360.0)
          + 360.0, 360.0), 360.0) + 360.0, 360.0) AS locast,
        epoch/36525.0 AS t1
      FROM s3),
    s5 AS (
      SELECT *,
        (23.452294 - 0.0130125*t1 - 1.64e-06*t1*t1 + 5.03e-07*t1*t1*t1)
          * 0.017453292519943295 AS obliq,
        281.22083 + 4.70684e-05*epoch + 0.000453*t1*t1 + 3e-06*t1*t1*t1 AS mlper,
        fmod(fmod(358.47583 + 0.985600267*epoch - 0.00015*t1*t1 - 3e-06*t1*t1*t1, 360.0)
          + 360.0, 360.0) AS manom,
        0.01675104 - 4.18e-05*t1 - 1.26e-07*t1*t1 AS ecc
      FROM s4),
    k1 AS (SELECT *, manom + 57.29577951308232*ecc*sin(manom*0.017453292519943295) AS ea FROM s5),
    k2 AS (SELECT * REPLACE (manom + 57.29577951308232*ecc*sin(ea*0.017453292519943295) AS ea) FROM k1),
    k3 AS (SELECT * REPLACE (manom + 57.29577951308232*ecc*sin(ea*0.017453292519943295) AS ea) FROM k2),
    k4 AS (SELECT * REPLACE (manom + 57.29577951308232*ecc*sin(ea*0.017453292519943295) AS ea) FROM k3),
    k5 AS (SELECT * REPLACE (manom + 57.29577951308232*ecc*sin(ea*0.017453292519943295) AS ea) FROM k4),
    s6 AS (
      SELECT *,
        (fmod(fmod(mlper + 2.0*57.29577951308232*atan2(
            sqrt((1.0+ecc)/(1.0-ecc))*tan(ea*0.017453292519943295/2.0), 1.0), 360.0)
          + 360.0, 360.0) - 20.0/3600.0) * 0.017453292519943295 AS eclon
      FROM k5),
    s7 AS (
      SELECT *, asin(sin(obliq)*sin(eclon)) AS decr,
        locast - 57.29577951308232*atan2(cos(obliq)*sin(eclon), cos(eclon)) AS ha0
      FROM s6),
    s8 AS (
      SELECT *,
        (ha0 - CASE WHEN abs(ha0) > 180.0 THEN 360.0*sign(ha0) ELSE 0.0 END)
          * 0.017453292519943295 AS ha,
        sin(lat*0.017453292519943295) AS sinlat, cos(lat*0.017453292519943295) AS coslat
      FROM s7),
    s9 AS (
      SELECT *, 57.29577951308232*atan2(-sin(ha), coslat*tan(decr) - sinlat*cos(ha)) AS az0
      FROM s8)
    SELECT event_id,
      CAST(floor(57.29577951308232*asin(coslat*cos(decr)*cos(ha) + sinlat*sin(decr))
        * 10000.0 + 0.5) AS BIGINT) AS el_tmil,
      CAST(floor((CASE WHEN az0 < 0 THEN az0 + 360.0 ELSE az0 END) * 10000.0 + 0.5)
        AS BIGINT) AS az_tmil
    FROM s9
  """

  // q96: daily-max PDF histogram — the q48 clip1 statistic binned
  // per site into 100 equal-width bins over [min, max] of the
  // positive values (numpy plt.hist semantics, last bin inclusive;
  // a zero-width range expands to (lo−0.5, lo+0.5), numpy's
  // degenerate-case rule — ADVICE r12).
  // The bin expression mirrors the Spark side token-for-token —
  // ((clip1 − lo) * 100.0) / (hi − lo), floored then clamped — so
  // both engines run identical IEEE arithmetic; the floor output is
  // integral, making DuckDB's rounding double→int CAST and Spark's
  // truncating cast agree. Edges quantized with the product idiom.
  private val q96 = s"""
    WITH $clipStatsCte,
    cs AS (
      SELECT s.user_id, s.daily_max / m.site_max AS clip1
      FROM sums s JOIN site m ON s.user_id = m.user_id
      WHERE s.daily_max / m.site_max > 0),
    mm0 AS (SELECT user_id, min(clip1) AS lo0, max(clip1) AS hi0 FROM cs GROUP BY 1),
    mm AS (
      SELECT user_id,
        CASE WHEN hi0 = lo0 THEN lo0 - 0.5 ELSE lo0 END AS lo,
        CASE WHEN hi0 = lo0 THEN lo0 + 0.5 ELSE hi0 END AS hi
      FROM mm0),
    b AS (
      SELECT c.user_id,
        CAST(least(floor((c.clip1 - m.lo) * 100.0 / (m.hi - m.lo)), 99.0) AS INT) AS bin,
        m.lo AS lo, m.hi AS hi
      FROM cs c JOIN mm m ON c.user_id = m.user_id)
    SELECT user_id, bin,
      round((lo + bin * (hi - lo) / 100.0) * 1000000.0) / 1000000.0 AS x_lo,
      round((lo + (bin + 1) * (hi - lo) / 100.0) * 1000000.0) / 1000000.0 AS x_hi,
      CAST(count(*) AS BIGINT) AS n_days
    FROM b GROUP BY 1, 2, lo, hi
  """

  // p07: the relational fleet report re-derived end-to-end from raw
  // events — null-cleaned day grain, p95 capacity (q17 contract),
  // good-day quality score (q19/q20 contract), day-grain density/
  // energy lifted to exact integer micro-units before the site-grain
  // sum (order-free), and the full q49 clipping-verdict derivation
  // inlined. Site-grain means are quotients of bit-identical integer
  // inputs, so the final round can't straddle a half-boundary
  // differently across engines (the q07 contract).
  private val p07 = s"""
    WITH $clipStatsCte,
    cs AS (
      SELECT s.user_id, s.day, s.daily_max / m.site_max AS clip1,
        round(s.sum_clip / nullif(s.sum_np, 0) * 1000000.0) / 1000000.0 AS clip2r
      FROM sums s JOIN site m ON s.user_id = m.user_id),
    masses AS (
      SELECT user_id, round(clip1 / 0.01) * 0.01 AS mass, count(*) AS n_bucket
      FROM cs GROUP BY 1, 2 HAVING count(*) >= 3),
    clipdays AS (
      SELECT user_id, count(*) AS n_clipped FROM (
        SELECT DISTINCT c.user_id, c.day
        FROM cs c JOIN masses m ON c.user_id = m.user_id
        WHERE c.clip1 > 0.05 AND c.clip2r > 0.1 AND abs(c.clip1 - m.mass) < 0.0075)
      GROUP BY 1),
    csdays AS (SELECT user_id, count(*) AS n_days FROM cs GROUP BY 1),
    clipv AS (
      SELECT d.user_id, coalesce(c.n_clipped, 0) > d.n_days * 0.01 AS inverter_clipping
      FROM csdays d LEFT JOIN clipdays c ON d.user_id = c.user_id),
    cap AS (
      SELECT user_id, round(quantile_cont(value, 0.95), 6) AS capacity,
        round(quantile_cont(value, 0.95) * 0.02, 6) AS thr
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1),
    dday AS (
      SELECT e.user_id, CAST(e.ts AS DATE) AS day,
        round(sum(e.value), 2) AS sum_v, count(*) AS n_slots,
        sum(CASE WHEN e.value > cap.thr THEN 1 ELSE 0 END) AS n_above,
        avg(e.value) AS avg_v
      FROM events e JOIN cap ON e.user_id = cap.user_id
      WHERE e.ts IS NOT NULL AND e.value IS NOT NULL
      GROUP BY 1, 2),
    dmetrics AS (
      SELECT user_id,
        CAST(round(round(sum_v * 24.0 / n_slots, 4) * 1e4, 0) AS BIGINT) AS energy_du,
        CAST(round(round(CAST(n_above AS DOUBLE) / n_slots, 6) * 1e6, 0) AS BIGINT) AS density_micro,
        CASE WHEN n_slots >= 10 AND avg_v > 0.0 THEN 1 ELSE 0 END AS good
      FROM dday),
    srpt AS (
      SELECT user_id, count(*) AS n_days, sum(good) AS n_good,
        sum(density_micro) AS sum_dm, sum(energy_du) AS sum_edu
      FROM dmetrics GROUP BY 1)
    SELECT r.user_id, r.n_days, cap.capacity,
      round(CAST(r.n_good AS DOUBLE) / r.n_days, 6) AS quality_score,
      CAST((2 * r.sum_dm + r.n_days) // (2 * r.n_days) AS DOUBLE) / 1e6 AS mean_density,
      CAST((2 * r.sum_edu + r.n_days) // (2 * r.n_days) AS DOUBLE) / 1e4 AS mean_energy,
      clipv.inverter_clipping
    FROM srpt r
    JOIN cap ON r.user_id = cap.user_id
    JOIN clipv ON r.user_id = clipv.user_id
  """

  // The filled-matrix replay shared by q50 and the filled-axis study
  // gate (q64): Filling.filledDayGrid at 48 slots — slot aggregation,
  // p95 capacity, ±7-day median rise/set, grid densify, night-band
  // zeroing, in-day linear interpolation. Terminal CTE:
  // fg_filled(user_id, day, slot, raw, filled).
  private val filledGridCte = """
    fg_slotted AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
        CAST((date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) % 86400) // 1800 AS INT) AS slot,
        CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / count(value) AS raw
      FROM events WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1, 2, 3),
    fg_cap AS (SELECT user_id, quantile_cont(value, 0.95) AS capacity FROM events GROUP BY 1),
    fg_rough AS (
      SELECT s.user_id, s.day,
        min(CASE WHEN s.raw > c.capacity * 0.005 THEN s.slot END) AS sr_rough,
        max(CASE WHEN s.raw > c.capacity * 0.005 THEN s.slot END) AS ss_rough
      FROM fg_slotted s JOIN fg_cap c ON s.user_id = c.user_id
      GROUP BY 1, 2),
    fg_riseset AS (
      SELECT a.user_id, a.day,
        CAST(floor(quantile_cont(b.sr_rough, 0.5)) AS INT) AS sr_s,
        CAST(floor(quantile_cont(b.ss_rough, 0.5)) AS INT) AS ss_s
      FROM fg_rough a JOIN fg_rough b ON a.user_id = b.user_id
        AND abs(date_diff('day', a.day, b.day)) <= 7
      GROUP BY 1, 2),
    fg_grid AS (
      SELECT r.user_id, r.day, r.sr_s, r.ss_s, g.slot
      FROM fg_riseset r CROSS JOIN (SELECT unnest(range(0, 48)) AS slot) g),
    fg_base AS (
      SELECT g.user_id, g.day, g.slot, s.raw,
        CASE WHEN s.raw IS NOT NULL THEN greatest(s.raw, 0.0)
             WHEN g.slot < g.sr_s OR g.slot > g.ss_s THEN 0.0 END AS v
      FROM fg_grid g LEFT JOIN fg_slotted s
        ON g.user_id = s.user_id AND g.day = s.day AND g.slot = s.slot),
    fg_w AS (
      SELECT user_id, day, slot, raw, v,
        last_value(v IGNORE NULLS) OVER fgwb AS pv,
        first_value(v IGNORE NULLS) OVER fgwa AS nv,
        last_value(CASE WHEN v IS NOT NULL THEN slot END IGNORE NULLS) OVER fgwb AS px,
        first_value(CASE WHEN v IS NOT NULL THEN slot END IGNORE NULLS) OVER fgwa AS nx
      FROM fg_base
      WINDOW
        fgwb AS (PARTITION BY user_id, day ORDER BY slot ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        fgwa AS (PARTITION BY user_id, day ORDER BY slot ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    fg_filled AS (
      SELECT user_id, day, slot, raw,
        coalesce(CASE
          WHEN v IS NOT NULL THEN v
          WHEN pv IS NULL THEN nv
          WHEN nv IS NULL THEN pv
          WHEN nx = px THEN pv
          ELSE pv + (CAST(slot - px AS DOUBLE) / CAST(nx - px AS DOUBLE)) * (nv - pv)
        END, 0.0) AS filled
      FROM fg_w)
  """

  private val q50 = s"""
    WITH $filledGridCte
    SELECT user_id, CAST(day AS VARCHAR) AS day,
      CAST(floor(sum(CAST(round(filled * 1e6) AS BIGINT)) / 2) AS BIGINT) AS energy_micro,
      CAST(sum(CASE WHEN raw IS NULL AND filled <> 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_interp,
      CAST(sum(CASE WHEN filled = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
    FROM fg_filled GROUP BY 1, 2
  """

  private val q51 = """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS dmax
      FROM events GROUP BY 1, 2),
    l AS (SELECT user_id, day, ln(greatest(dmax, 1e-9)) AS ldm FROM daily),
    j AS (
      SELECT user_id, day,
        round(
          avg(ldm) OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)
          - avg(ldm) OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
          6) AS jump_r
      FROM l),
    f AS (SELECT user_id, day, jump_r FROM j WHERE jump_r IS NOT NULL),
    n AS (
      SELECT user_id, day, jump_r,
        max(abs(jump_r)) OVER (PARTITION BY user_id ORDER BY day
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nbr_max
      FROM f)
    SELECT user_id, CAST(day AS VARCHAR) AS day, jump_r
    FROM n WHERE abs(jump_r) > 0.1 AND abs(jump_r) = nbr_max
  """

  private val q52 = """
    WITH sm AS (SELECT user_id, max(value) * 0.01 AS thr FROM events GROUP BY 1),
    b AS (
      SELECT e.user_id AS site, CAST(CAST(e.ts AS DATE) AS VARCHAR) AS day,
        date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 AS h,
        date_diff('second', date_trunc('day', e.ts), e.ts) AS sec,
        CAST(round(e.value * 100) AS BIGINT) AS vc,
        e.value AS v, e.event_id, sm.thr
      FROM events e JOIN sm ON e.user_id = sm.user_id),
    rs AS (
      SELECT site, day,
        min(CASE WHEN v > thr THEN h END) AS rise_h,
        max(CASE WHEN v > thr THEN h END) AS set_h
      FROM b GROUP BY 1, 2
      HAVING max(CASE WHEN v > thr THEN h END) > min(CASE WHEN v > thr THEN h END)),
    seg AS (
      SELECT b.site, b.day,
        (b.vc + lag(b.vc) OVER w) * (b.sec - lag(b.sec) OVER w) AS sc
      FROM b JOIN rs ON b.site = rs.site AND b.day = rs.day
      WHERE b.h >= rs.rise_h AND b.h <= rs.set_h
      WINDOW w AS (PARTITION BY b.site, b.day ORDER BY b.sec, b.event_id)),
    en AS (SELECT site, day, CAST(sum(sc) AS BIGINT) AS day_energy_vs FROM seg GROUP BY 1, 2),
    g AS (
      SELECT rs.site, rs.day, rs.rise_h, rs.set_h, en.day_energy_vs,
        unnest(range(0, 12)) AS dil_slot,
        (rs.set_h - rs.rise_h) / 12 AS dg
      FROM rs JOIN en ON rs.site = en.site AND rs.day = en.day)
    SELECT site, day, round(rise_h * 1000000.0) / 1000000.0 AS rise_h,
      round(set_h * 1000000.0) / 1000000.0 AS set_h,
      day_energy_vs, CAST(dil_slot AS INT) AS dil_slot,
      round((rise_h + dil_slot * dg) * 1000000.0) / 1000000.0 AS bin_start_h,
      round((rise_h + (dil_slot + 1) * dg) * 1000000.0) / 1000000.0 AS bin_end_h
    FROM g
  """

  // q54: ClearDay.detect replayed — dense (site, day, slot) grid with
  // max-on-collision fill (greatest(max(v), 0) = the operator's
  // zero-initialized in-place max), per-slot p90 envelope over ±10
  // CALENDAR days (quantile_cont = the operator's sorted linear
  // interpolation), then correlation / energy-ratio verdicts.
  // The clear-day flag derivation shared by q54 and the study sweeps
  // (q61/q62): the full ClearDay.detect replay — 15-minute slot grid,
  // ±10-day per-slot p90 envelope, 6-dp-rounded correlation/energy
  // statistics, flag thresholds. Terminal CTE: cd_flags(site, day
  // DATE, env_corr, energy_ratio, clear).
  private val clearFlagsCte = """
    cd_e AS (
      SELECT user_id AS site, CAST(ts AS DATE) AS day,
        CAST(floor(date_diff('second', date_trunc('day', ts), ts) / 900.0) AS INT) AS slot,
        CAST(value AS DOUBLE) AS v
      FROM events),
    cd_days AS (SELECT DISTINCT site, day FROM cd_e),
    cd_grid AS (SELECT site, day, CAST(s.slot AS INT) AS slot
             FROM cd_days CROSS JOIN (SELECT unnest(range(96)) AS slot) s),
    cd_mx AS (SELECT site, day, slot, max(v) AS mv FROM cd_e GROUP BY 1, 2, 3),
    cd_cells AS (
      SELECT g.site, g.day, g.slot, coalesce(greatest(m.mv, 0), 0) AS v
      FROM cd_grid g LEFT JOIN cd_mx m ON g.site = m.site AND g.day = m.day AND g.slot = m.slot),
    cd_env AS (
      SELECT a.site, a.slot, a.day, quantile_cont(b.v, 0.9) AS env
      FROM cd_cells a JOIN cd_cells b ON a.site = b.site AND a.slot = b.slot
        AND abs(date_diff('day', b.day, a.day)) <= 10
      GROUP BY 1, 2, 3),
    cd_fin AS (
      SELECT c.site, c.day,
        sum(c.v * e2.env) AS num, sum(c.v * c.v) AS mm, sum(e2.env * e2.env) AS ee,
        sum(c.v) AS sm, sum(e2.env) AS se
      FROM cd_cells c JOIN cd_env e2 ON c.site = e2.site AND c.slot = e2.slot AND c.day = e2.day
      GROUP BY 1, 2),
    cd_flags AS (
      SELECT site, day, env_corr, energy_ratio,
        (env_corr > 0.98 AND energy_ratio > 0.8) AS clear
      FROM (
        SELECT site, day,
          round((CASE WHEN mm > 0 AND ee > 0 THEN num / sqrt(mm * ee) ELSE 0 END)
            * 1000000.0) / 1000000.0 AS env_corr,
          round((CASE WHEN se > 1e-9 THEN sm / se ELSE 0 END) * 1000000.0)
            / 1000000.0 AS energy_ratio
        FROM cd_fin) t)
  """

  private val q54 = s"""
    WITH $clearFlagsCte
    SELECT site, CAST(day AS VARCHAR) AS day, env_corr, energy_ratio, clear
    FROM cd_flags
  """

  // Day-grain CTEs shared by the q61/q62 study sweeps: cleaned events,
  // modal sampling frequency (the q06 contract over the cleaned
  // grain), detect_sun/find_daytime scale parameters, per-day
  // conditional aggregates, and the boundary-null'd daylight / noon
  // columns with clear flags attached. Terminal CTE: sw_day(site, day,
  // doy, dl_ss, dl_raw, noon_com, noon_rs, clear).
  private val studyDayCte = s"""
    $clearFlagsCte,
    sw_ev AS (
      SELECT user_id AS site, ts, CAST(value AS DOUBLE) AS v
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
    sw_fd AS (
      SELECT site,
        date_diff('second', lag(ts) OVER (PARTITION BY site ORDER BY ts), ts) AS dt_s
      FROM sw_ev),
    sw_fr AS (SELECT site,
        CAST(CASE WHEN dt_s < 10 THEN greatest(round(dt_s), 1)
             ELSE round(dt_s / 10.0) * 10 END AS BIGINT) AS dt_r
      FROM sw_fd WHERE dt_s IS NOT NULL),
    sw_fc AS (SELECT site, dt_r, count(*) AS cnt FROM sw_fr GROUP BY 1, 2),
    sw_freq AS (
      SELECT site, dt_r / 3600.0 AS freq_h FROM (
        SELECT site, dt_r,
          row_number() OVER (PARTITION BY site ORDER BY cnt DESC, dt_r ASC) AS rn
        FROM sw_fc) t
      WHERE rn = 1),
    sw_scale AS (
      SELECT site, round(quantile_cont(v, 0.99) * 1000000.0) / 1000000.0 AS hi99,
        round(greatest(min(v), -0.005 * quantile_cont(v, 0.99)) * 1000000.0)
          / 1000000.0 AS lo99,
        round(quantile_cont(v, 0.95) * 1000000.0) / 1000000.0 AS p95,
        round(greatest(quantile_cont(v, 0.05), 0) * 1000000.0) / 1000000.0 AS bot
      FROM sw_ev GROUP BY 1),
    sw_base AS (
      SELECT e.site, CAST(e.ts AS DATE) AS day,
        CAST(date_diff('second', date_trunc('day', e.ts), e.ts) AS DOUBLE) AS sec,
        date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 AS h,
        CASE WHEN s.hi99 <> 0
          THEN CAST(round((e.v - s.lo99) / s.hi99 * 1000000.0, 0) AS BIGINT) END AS sc_d,
        CASE WHEN s.p95 <> s.bot
          THEN CAST(round((e.v - s.bot) / (s.p95 - s.bot) * 1000000.0, 0) AS BIGINT) END AS sc_r,
        e.v
      FROM sw_ev e JOIN sw_scale s ON e.site = s.site),
    sw_dd AS (
      SELECT site, day,
        min(CASE WHEN sc_d > 1000 THEN h END) AS sr,
        max(CASE WHEN sc_d > 1000 THEN h END) AS ss,
        min(CASE WHEN sc_d > 10000 THEN h END) AS sr01,
        max(CASE WHEN sc_d > 10000 THEN h END) AS ss01,
        min(h) AS h_first, max(h) AS h_last,
        sum(CASE WHEN sc_r >= 1000 THEN 1 ELSE 0 END) AS n_daytime,
        sum(CAST(sec AS BIGINT) * CAST(round(v * 1000000.0) AS BIGINT)) AS num_c,
        sum(CAST(round(v * 1000000.0) AS BIGINT)) AS sum_c
      FROM sw_base GROUP BY 1, 2),
    sw_day AS (
      SELECT d.site, d.day, dayofyear(d.day) AS doy,
        CASE WHEN d.sr = d.h_first OR d.ss = d.h_last THEN NULL
             ELSE d.ss - d.sr END AS dl_ss,
        d.n_daytime * f.freq_h AS dl_raw,
        CASE WHEN d.sum_c <> 0
             THEN (d.num_c / 3600.0) / d.sum_c END AS noon_com,
        CASE WHEN d.sr01 = d.h_first OR d.ss01 = d.h_last THEN NULL
             ELSE (d.sr01 + d.ss01) / 2.0 END AS noon_rs,
        coalesce(c.clear, false) AS clear
      FROM sw_dd d
      JOIN sw_freq f ON d.site = f.site
      LEFT JOIN cd_flags c ON d.site = c.site AND d.day = c.day)
  """

  // The orientation fit's envelope-cell table replayed (shared by
  // q63 on raw events and q66 on the filled grid) — 1%-max rise/set,
  // EoT-corrected midpoint-median noon, daylight-inversion latitude,
  // p99 normalization, (doy, floor(solar hour)) envelope max. EoT
  // mirrors Solar.equationOfTimeMin's literals and association
  // exactly. `ev` is the event-grain source (user_id, ts, value);
  // `prelude` is an optional CTE chain it depends on (trailing comma
  // handled here).
  private def orientationCellsSql(ev: String, prelude: String): String = {
    val eotH = (b: String) =>
      s"""(229.18 * (0.000075
         + 0.001868 * cos($b) - 0.032077 * sin($b)
         - 0.014615 * cos(2.0 * $b) - 0.04089 * sin(2.0 * $b)) / 60.0)"""
    val bDay = "(6.283185307179586 * (dayofyear(day) - 1.0) / 365.0)"
    val bTs = "(6.283185307179586 * (dayofyear(CAST(ts AS DATE)) - 1.0) / 365.0)"
    val pre = if (prelude.isEmpty) "" else s"$prelude,"
    s"""
    WITH $pre
    oc_mx AS (
      SELECT user_id, round(max(value) * 0.01, 6) AS thr FROM $ev GROUP BY 1),
    oc_rs AS (
      SELECT e.user_id, CAST(e.ts AS DATE) AS day,
        min(CASE WHEN e.value > m.thr
            THEN date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 END) AS sr,
        max(CASE WHEN e.value > m.thr
            THEN date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 END) AS ss
      FROM $ev e JOIN oc_mx m ON e.user_id = m.user_id
      GROUP BY 1, 2),
    oc_noon AS (
      SELECT user_id,
        quantile_cont((sr + ss) / 2.0 + ${eotH(bDay)}, 0.5) AS noon
      FROM oc_rs GROUP BY 1),
    oc_lat AS (
      SELECT user_id, quantile_cont(
        atan(-cos(7.5 * (ss - sr) * 0.017453292519943295)
             / tan((23.45 * sin(6.283185307179586 * (dayofyear(day) + 284.0) / 365.0))
                   * 0.017453292519943295)) * 57.29577951308232, 0.5) AS lat_est
      FROM oc_rs GROUP BY 1),
    oc_cap AS (SELECT user_id, quantile_cont(value, 0.99) AS cap FROM $ev GROUP BY 1),
    oc_cells AS (
      SELECT e.user_id, dayofyear(CAST(e.ts AS DATE)) AS doy,
        CAST(floor(date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0
                   + ${eotH(bTs)}) AS INT) AS hslot,
        max(e.value / c.cap) AS ct
      FROM $ev e JOIN oc_cap c ON e.user_id = c.user_id
      GROUP BY 1, 2, 3)
    SELECT CAST(c.user_id AS VARCHAR) AS user_id, c.doy, c.hslot,
      round(c.ct * 1000000.0) / 1000000.0 AS ct,
      round(n.noon * 1000000.0) / 1000000.0 AS noon,
      round(l.lat_est * 1000000.0) / 1000000.0 AS lat_est
    FROM oc_cells c
    JOIN oc_noon n ON c.user_id = n.user_id
    JOIN oc_lat l ON c.user_id = l.user_id
    """
  }

  private val q63: String = orientationCellsSql("events", "")

  // q66: the same envelope-cell derivation on the FILLED matrix (the
  // reference study's actual input — `tilt_azimuth_study.py:97` reads
  // `data_handler.filled_data_matrix`): the shared q50 grid replay
  // re-expressed at event grain (ts = local midnight + slot·30 min)
  // feeding the unchanged cell SQL.
  private val q66: String = orientationCellsSql(
    "fg_ev",
    s"""$filledGridCte,
    fg_ev AS (
      SELECT user_id, CAST(day AS TIMESTAMP) + slot * INTERVAL 30 MINUTE AS ts,
        filled AS value
      FROM fg_filled)""")

  // d43: the PII redaction true-positive path replayed — identical
  // injected identifiers, the operator's exact patterns (shared
  // Java-regex/RE2 dialect subset incl. \b), counts via
  // regexp_extract_all before masking, global replacements in the
  // operator's order (email -> IP -> phone), md5 of the redacted
  // text.
  private val d43: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val phone = "\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3}[-. ]?[0-9]{2,4}\\b"
    s"""
    WITH pm_in AS (
      SELECT doc_id,
        text || ' contact user' || doc_id || '@example.com via '
             || '10.' || (doc_id % 200) || '.0.1 tel 1-555-123-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@host.org' ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN ' peer 192.168.1.9' ELSE '' END AS text
      FROM documents)
    SELECT doc_id,
      len(regexp_extract_all(text, '$email')) AS n_email,
      len(regexp_extract_all(text, '$ip')) AS n_ipv4,
      len(regexp_extract_all(text, '$phone')) AS n_phone,
      md5(regexp_replace(
            regexp_replace(
              regexp_replace(text, '$email', '<EMAIL>', 'g'),
              '$ip', '<IP>', 'g'),
            '$phone', '<PHONE>', 'g')) AS redacted_md5
    FROM pm_in
    """
  }

  // q67: day-quality DBSCAN replayed from scratch — eps-geometry on
  // the (density, normalized daily max) day points, core flags
  // (neighbor count ≥ minPts, self included), core components by
  // RECURSIVE min-label closure over core-core edges, and the
  // operator's stated deterministic border rule (min adjacent core
  // cluster). DBSCAN's core clusters are exactly these components,
  // so the hash checks dbscan2d's structure without depending on its
  // visit order.
  private val q67 = """
    WITH RECURSIVE
    dbq_ev AS (
      SELECT user_id, ts, CAST(value AS DOUBLE) AS v FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
    dbq_cap AS (SELECT user_id, quantile_cont(v, 0.95) AS capacity FROM dbq_ev GROUP BY 1),
    dbq_day AS (
      SELECT e.user_id AS site, CAST(e.ts AS DATE) AS day,
        avg(CASE WHEN e.v > c.capacity * 0.02 THEN 1.0 ELSE 0.0 END) AS x,
        max(e.v) AS daily_max
      FROM dbq_ev e JOIN dbq_cap c ON e.user_id = c.user_id
      GROUP BY 1, 2),
    dbq_sc AS (SELECT site, greatest(max(daily_max), 1e-9) AS m FROM dbq_day GROUP BY 1),
    dbq_p AS (
      SELECT d.site, CAST(d.day AS VARCHAR) AS day, d.x, d.daily_max / s.m AS y
      FROM dbq_day d JOIN dbq_sc s ON d.site = s.site),
    dbq_e AS (
      SELECT a.site, a.day AS da, b.day AS db
      FROM dbq_p a JOIN dbq_p b ON a.site = b.site
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.06 * 0.06),
    dbq_core AS (
      SELECT site, da AS day FROM dbq_e GROUP BY 1, 2 HAVING count(*) >= 3),
    dbq_ce AS (
      SELECT e.site, e.da, e.db FROM dbq_e e
      JOIN dbq_core c1 ON e.site = c1.site AND e.da = c1.day
      JOIN dbq_core c2 ON e.site = c2.site AND e.db = c2.day),
    dbq_cc AS (
      SELECT site, day AS node, day AS lbl FROM dbq_core
      UNION
      SELECT ce.site, ce.db AS node, cc.lbl
      FROM dbq_cc cc JOIN dbq_ce ce ON cc.site = ce.site AND cc.node = ce.da),
    dbq_canon AS (SELECT site, node AS day, min(lbl) AS clbl FROM dbq_cc GROUP BY 1, 2),
    dbq_border AS (
      SELECT e.site, e.da AS day, min(c.clbl) AS clbl
      FROM dbq_e e
      JOIN dbq_canon c ON e.site = c.site AND e.db = c.day
      WHERE e.da <> e.db
        AND NOT EXISTS (SELECT 1 FROM dbq_core k WHERE k.site = e.site AND k.day = e.da)
      GROUP BY 1, 2)
    SELECT CAST(p.site AS VARCHAR) AS user_id, p.day,
      (k.day IS NOT NULL) AS is_core,
      CASE WHEN k.day IS NOT NULL THEN cn.clbl ELSE b.clbl END AS cluster_day
    FROM dbq_p p
    LEFT JOIN dbq_core k ON p.site = k.site AND p.day = k.day
    LEFT JOIN dbq_canon cn ON p.site = cn.site AND p.day = cn.day
    LEFT JOIN dbq_border b ON p.site = b.site AND p.day = b.day
  """

  // q68: the 2-state clear-sky Viterbi DP replayed — min-sum forward
  // recursion (state 0 cloudy: emit 1.0, transition-from-clear 0.5;
  // state 1 clear: emit |r−1|/0.25 with NaN→10, transition-from-cloudy
  // 2.0) carried forward by a RECURSIVE CTE one slot at a time (the
  // DP's sequential accumulation pins the float order on both
  // engines), then the backtrack as a second recursive walk over the
  // stored argmin pointers. Inputs are exact literal rationals.
  private val q68 = """
    WITH RECURSIVE
    vd_src AS (
      SELECT sid, i,
        CASE WHEN i % 17 = 3 THEN NULL
             WHEN i >= 20 AND i <= 39
               THEN 1.0 + CAST((i * sid * 7) % 11 - 5 AS DOUBLE) / 100.0
             ELSE CAST((i * sid * 37 + i * 13) % 97 AS DOUBLE) / 48.0 END AS r
      FROM (SELECT unnest(range(1, 5)) AS sid) s
      CROSS JOIN (SELECT unnest(range(0, 60)) AS i) g),
    vd_em AS (
      SELECT sid, i,
        CAST(1.0 AS DOUBLE) AS ec0,
        CAST(CASE WHEN r IS NULL THEN 10.0 ELSE abs(r - 1.0) / 0.25 END AS DOUBLE) AS ec1
      FROM vd_src),
    vd_fwd AS (
      SELECT sid, i, ec0 AS c0, ec1 AS c1, 0 AS b0, 1 AS b1
      FROM vd_em WHERE i = 0
      UNION ALL
      SELECT e.sid, e.i,
        CASE WHEN f.c0 <= f.c1 + 0.5 THEN f.c0 ELSE f.c1 + 0.5 END + e.ec0 AS c0,
        CASE WHEN f.c1 <= f.c0 + 2.0 THEN f.c1 ELSE f.c0 + 2.0 END + e.ec1 AS c1,
        CASE WHEN f.c0 <= f.c1 + 0.5 THEN 0 ELSE 1 END AS b0,
        CASE WHEN f.c1 <= f.c0 + 2.0 THEN 1 ELSE 0 END AS b1
      FROM vd_fwd f JOIN vd_em e ON e.sid = f.sid AND e.i = f.i + 1),
    vd_bwd AS (
      SELECT sid, i, CASE WHEN c1 <= c0 THEN 1 ELSE 0 END AS st
      FROM vd_fwd WHERE i = 59
      UNION ALL
      SELECT b.sid, b.i - 1, CASE WHEN b.st = 1 THEN f.b1 ELSE f.b0 END AS st
      FROM vd_bwd b JOIN vd_fwd f ON f.sid = b.sid AND f.i = b.i
      WHERE b.i > 0)
    SELECT sid AS series_id, i, (st = 1) AS clear FROM vd_bwd
  """

  // q69: tz-database DST repair replayed with DuckDB's ICU timezone
  // support. Nonexistent wall times: the zone round trip does not
  // reproduce them (both engines shift forward through the gap).
  // Ambiguous wall times: ICU resolves to the LATER offset, so the
  // repeated hour is where the offset steps up from the PREVIOUS
  // hour (the JVM operator, resolving to the earlier offset, probes
  // the NEXT hour instead — the flagged set is identical). Dropped
  // rows null their instants, so the engines' differing ambiguous
  // resolutions never reach a gated value.
  private val q69 = """
    WITH dst_grid AS (
      SELECT d || ' ' || lpad(CAST(h AS VARCHAR), 2, '0') || ':'
               || lpad(CAST(m * 15 AS VARCHAR), 2, '0') || ':00' AS wall
      FROM (SELECT unnest(['2020-03-08', '2020-11-01']) AS d) dd
      CROSS JOIN (SELECT unnest(range(0, 5)) AS h) hh
      CROSS JOIN (SELECT unnest(range(0, 4)) AS m) mm),
    dst_c AS (SELECT wall, CAST(wall AS TIMESTAMP) AS ts FROM dst_grid),
    dst_o AS (
      SELECT wall, ts,
        epoch(timezone('America/Los_Angeles', ts)) - epoch(ts) AS off,
        epoch(timezone('America/Los_Angeles', ts - INTERVAL 1 HOUR))
          - epoch(ts - INTERVAL 1 HOUR) AS off_prev,
        timezone('America/Los_Angeles', timezone('America/Los_Angeles', ts)) AS rt,
        CAST(epoch(timezone('America/Los_Angeles', ts)) AS BIGINT) AS utc_s
      FROM dst_c)
    SELECT wall,
      (epoch(rt) <> epoch(ts)) OR (off - off_prev = 3600.0) AS dst_dropped,
      CASE WHEN (epoch(rt) <> epoch(ts)) OR (off - off_prev = 3600.0)
           THEN NULL ELSE utc_s END AS ts_utc_s,
      CASE WHEN (epoch(rt) <> epoch(ts)) OR (off - off_prev = 3600.0)
           THEN NULL ELSE utc_s - 28800 END AS ts_fixed_s
    FROM dst_o
  """

  // q70: sort+dedup timestamps — the union-with-doubled-twin input
  // makes every stamp collide; keep-first by the value tie-break is
  // then exactly min per (site, ts), stated directly (independent
  // relational equivalence rather than a window replay).
  private val q70 = """
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
      round(least(value, value * 2.0), 6) AS value
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  """

  // q71: the ground-truth harness replayed — plane-normal → (tilt,
  // az) conversion (skyward z-flip, the >90 azimuth fold), the
  // (−180, 180] azimuth error wrap, and the haversine distance, all
  // on the same literal fixtures. Single-pass trig at 6 dp.
  private val q71 = """
    WITH gt_n(site, nx, ny, nz) AS (VALUES
      (1, 0.0, 0.0, 1.0), (2, 1.0, 0.0, 1.0), (3, 0.5, -0.5, -0.7),
      (4, 1.0, -1.0, 0.2), (5, -1.0, 0.3, 0.5)),
    gt_t AS (
      SELECT site,
        CAST(37.3 AS DOUBLE) AS lat_true, CAST(-121.9 AS DOUBLE) AS lon_true,
        degrees(atan2(sqrt(xs * xs + ys * ys), zup)) AS tilt_true,
        CASE WHEN 90.0 - degrees(atan2(ys, xs)) < -90.0
               THEN 90.0 - degrees(atan2(ys, xs)) + 180.0
             WHEN 90.0 - degrees(atan2(ys, xs)) > 90.0
               THEN 180.0 - (90.0 - degrees(atan2(ys, xs)))
             ELSE 90.0 - degrees(atan2(ys, xs)) END AS az_true
      FROM (
        SELECT site, abs(nz) AS zup,
          CASE WHEN nz < 0 THEN -nx ELSE nx END AS xs,
          CASE WHEN nz < 0 THEN -ny ELSE ny END AS ys
        FROM gt_n) f),
    gt_e(site, lat_est, lon_est, tilt_est, az_est) AS (VALUES
      (1, 37.1, -122.2, 2.0, 10.0), (2, 36.8, -121.5, 44.0, 89.0),
      (3, 38.0, -120.9, 51.0, 171.0), (4, 37.4, -122.0, 80.0, -171.0),
      (5, 36.9, -121.7, 62.0, -44.0))
    SELECT CAST(e.site AS BIGINT) AS site,
      round(t.tilt_true, 6) AS tilt_true,
      round(t.az_true, 6) AS az_true,
      round(e.lat_est - t.lat_true, 6) AS lat_err,
      round(e.lon_est - t.lon_true, 6) AS lon_err,
      round(e.tilt_est - t.tilt_true, 6) AS tilt_err,
      round((e.az_est - t.az_true)
            - round((e.az_est - t.az_true) / 360.0, 0) * 360.0, 6) AS az_err,
      round(2.0 * 6371.0 * asin(sqrt(
        pow(sin(radians(e.lat_est - t.lat_true) / 2.0), 2)
        + cos(radians(t.lat_true)) * cos(radians(e.lat_est))
          * pow(sin(radians(e.lon_est - t.lon_true) / 2.0), 2))), 6) AS dist_km
    FROM gt_e e JOIN gt_t t ON e.site = t.site
  """

  // q72: the τ-pinball IRLS of the quantile fits replayed — the
  // RECURSIVE CTE carries β across all 30 iterations: pinball
  // weights g/max(|r|, 1e-6) (unit weights on the init step), the
  // 1e-9-ridged weighted normal equations assembled by list lambdas
  // over the valid points, and a 3×3 Cramer solve. The summation
  // order intentionally differs from the Scala Cholesky path — the
  // IRLS fixed point is a contraction, so both engines agree far
  // inside the 6-dp gate rounding.
  private val q72 = """
    WITH RECURSIVE
    qf_src AS (
      SELECT sid, i,
        CASE WHEN i % 19 = 7 THEN NULL
             ELSE 6.0 + 2.0 * sid
                  + CAST((i * 31 + sid * 17) % 23 - 11 AS DOUBLE) / 4.0 END AS y,
        cos(2.0 * pi() * 1 * CAST(i AS DOUBLE) / 48.0) AS x1,
        sin(2.0 * pi() * 1 * CAST(i AS DOUBLE) / 48.0) AS x2
      FROM (SELECT unnest(range(1, 4)) AS sid) s
      CROSS JOIN (SELECT unnest(range(0, 48)) AS i) g),
    qf_d AS (
      SELECT sid,
        list(y ORDER BY i) FILTER (WHERE y IS NOT NULL) AS yv,
        list(x1 ORDER BY i) FILTER (WHERE y IS NOT NULL) AS c1,
        list(x2 ORDER BY i) FILTER (WHERE y IS NOT NULL) AS s1,
        CAST(count(y) AS BIGINT) AS m
      FROM qf_src GROUP BY sid),
    qf_it AS (
      SELECT sid, -1 AS it, CAST(NULL AS DOUBLE[]) AS w,
        CAST(0 AS DOUBLE) AS s00, CAST(0 AS DOUBLE) AS s01,
        CAST(0 AS DOUBLE) AS s02, CAST(0 AS DOUBLE) AS s11,
        CAST(0 AS DOUBLE) AS s12, CAST(0 AS DOUBLE) AS s22,
        CAST(0 AS DOUBLE) AS t0, CAST(0 AS DOUBLE) AS t1,
        CAST(0 AS DOUBLE) AS t2, CAST(0 AS DOUBLE) AS det,
        CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS b1,
        CAST(0 AS DOUBLE) AS b2
      FROM qf_d
      UNION ALL
      SELECT q.sid, q.it + 1,
        CASE WHEN q.it = -1
             THEN list_transform(range(1, d.m + 1), j -> CAST(1.0 AS DOUBLE))
             ELSE list_transform(range(1, d.m + 1), j ->
               (CASE WHEN d.yv[j] - (q.b0 + q.b1 * d.c1[j] + q.b2 * d.s1[j]) < 0
                     THEN 0.30000000000000004 ELSE 0.7 END)
               / greatest(abs(d.yv[j] - (q.b0 + q.b1 * d.c1[j] + q.b2 * d.s1[j])),
                          0.000001)) END AS nw,
        list_sum(nw) + 0.000000001 AS n00,
        list_sum(list_transform(range(1, d.m + 1), j -> nw[j] * d.c1[j])) AS n01,
        list_sum(list_transform(range(1, d.m + 1), j -> nw[j] * d.s1[j])) AS n02,
        list_sum(list_transform(range(1, d.m + 1), j -> nw[j] * d.c1[j] * d.c1[j]))
          + 0.000000001 AS n11,
        list_sum(list_transform(range(1, d.m + 1), j -> nw[j] * d.c1[j] * d.s1[j])) AS n12,
        list_sum(list_transform(range(1, d.m + 1), j -> nw[j] * d.s1[j] * d.s1[j]))
          + 0.000000001 AS n22,
        list_sum(list_transform(range(1, d.m + 1), j -> nw[j] * d.yv[j])) AS m0,
        list_sum(list_transform(range(1, d.m + 1), j -> nw[j] * d.c1[j] * d.yv[j])) AS m1,
        list_sum(list_transform(range(1, d.m + 1), j -> nw[j] * d.s1[j] * d.yv[j])) AS m2,
        n00 * (n11 * n22 - n12 * n12) - n01 * (n01 * n22 - n12 * n02)
          + n02 * (n01 * n12 - n11 * n02) AS ndet,
        (m0 * (n11 * n22 - n12 * n12) - n01 * (m1 * n22 - n12 * m2)
          + n02 * (m1 * n12 - n11 * m2)) / ndet AS nb0,
        (n00 * (m1 * n22 - m2 * n12) - m0 * (n01 * n22 - n12 * n02)
          + n02 * (n01 * m2 - m1 * n02)) / ndet AS nb1,
        (n00 * (n11 * m2 - n12 * m1) - n01 * (n01 * m2 - m1 * n02)
          + m0 * (n01 * n12 - n11 * n02)) / ndet AS nb2
      FROM qf_it q JOIN qf_d d USING (sid)
      WHERE q.it < 30)
    SELECT f.sid AS series_id, f.i,
      round((b.b0 + b.b1 * f.x1 + b.b2 * f.x2) * 1000000.0) / 1000000.0 AS fit
    FROM qf_src f JOIN qf_it b ON b.sid = f.sid AND b.it = 30
  """

  // q73: the deflated power-iteration eigensolver replayed — seed
  // v = 1 + diag, every matvec / normalize step in the operator's own
  // left-to-right summation order, the 1e-18 squared-step convergence
  // exit, and the rank-one deflation (a − (λ·v_i)·v_j, the exact
  // Scala association) carried across components by one RECURSIVE
  // CTE. The Gram matrix is exact-integer in both engines, so every
  // float op replays bit-identically. (The Gram entries are CAST to
  // DOUBLE: the VALUES literals infer DECIMAL, and a DECIMAL seed
  // type would silently round every iterate to the seed's scale. No
  // inline -- comments here: oracle SQL is whitespace-flattened.)
  // FIXTURE CONTRACT: full-rank Gram, well-separated eigenvalues —
  // this replay emits only CONVERGED components (WHERE f.conv) and
  // has no rank-exhaustion (nrm < 1e-300) branch; see the q73
  // Spark-side doc before editing the B matrix.
  private val q73 = """
    WITH RECURSIVE
    pe_b(b1, b2, b3, b4) AS (VALUES
      (4.0, 1.0, 0.0, 2.0), (1.0, 3.0, 1.0, 0.0), (0.0, 2.0, 5.0, 1.0),
      (2.0, 0.0, 1.0, 3.0), (1.0, 1.0, 0.0, 4.0)),
    pe_g AS (
      SELECT
        CAST(sum(b1 * b1) AS DOUBLE) AS g11, CAST(sum(b1 * b2) AS DOUBLE) AS g12,
        CAST(sum(b1 * b3) AS DOUBLE) AS g13, CAST(sum(b1 * b4) AS DOUBLE) AS g14,
        CAST(sum(b2 * b1) AS DOUBLE) AS g21, CAST(sum(b2 * b2) AS DOUBLE) AS g22,
        CAST(sum(b2 * b3) AS DOUBLE) AS g23, CAST(sum(b2 * b4) AS DOUBLE) AS g24,
        CAST(sum(b3 * b1) AS DOUBLE) AS g31, CAST(sum(b3 * b2) AS DOUBLE) AS g32,
        CAST(sum(b3 * b3) AS DOUBLE) AS g33, CAST(sum(b3 * b4) AS DOUBLE) AS g34,
        CAST(sum(b4 * b1) AS DOUBLE) AS g41, CAST(sum(b4 * b2) AS DOUBLE) AS g42,
        CAST(sum(b4 * b3) AS DOUBLE) AS g43, CAST(sum(b4 * b4) AS DOUBLE) AS g44
      FROM pe_b),
    pe_it AS (
      SELECT 1 AS comp, 0 AS it, FALSE AS conv,
        g11 AS a11, g12 AS a12, g13 AS a13, g14 AS a14,
        g21 AS a21, g22 AS a22, g23 AS a23, g24 AS a24,
        g31 AS a31, g32 AS a32, g33 AS a33, g34 AS a34,
        g41 AS a41, g42 AS a42, g43 AS a43, g44 AS a44,
        1.0 + g11 AS v1, 1.0 + g22 AS v2, 1.0 + g33 AS v3, 1.0 + g44 AS v4,
        CAST(0 AS DOUBLE) AS lam
      FROM pe_g
      UNION ALL
      SELECT
        CASE WHEN z.madv THEN z.comp + 1 ELSE z.comp END,
        CASE WHEN z.madv THEN 0 ELSE z.it + 1 END,
        CASE WHEN z.madv THEN FALSE ELSE z.pdiff < 1e-18 END,
        CASE WHEN z.madv THEN z.da11 ELSE z.a11 END,
        CASE WHEN z.madv THEN z.da12 ELSE z.a12 END,
        CASE WHEN z.madv THEN z.da13 ELSE z.a13 END,
        CASE WHEN z.madv THEN z.da14 ELSE z.a14 END,
        CASE WHEN z.madv THEN z.da21 ELSE z.a21 END,
        CASE WHEN z.madv THEN z.da22 ELSE z.a22 END,
        CASE WHEN z.madv THEN z.da23 ELSE z.a23 END,
        CASE WHEN z.madv THEN z.da24 ELSE z.a24 END,
        CASE WHEN z.madv THEN z.da31 ELSE z.a31 END,
        CASE WHEN z.madv THEN z.da32 ELSE z.a32 END,
        CASE WHEN z.madv THEN z.da33 ELSE z.a33 END,
        CASE WHEN z.madv THEN z.da34 ELSE z.a34 END,
        CASE WHEN z.madv THEN z.da41 ELSE z.a41 END,
        CASE WHEN z.madv THEN z.da42 ELSE z.a42 END,
        CASE WHEN z.madv THEN z.da43 ELSE z.a43 END,
        CASE WHEN z.madv THEN z.da44 ELSE z.a44 END,
        CASE WHEN z.madv THEN 1.0 + z.da11 ELSE z.pv1 END,
        CASE WHEN z.madv THEN 1.0 + z.da22 ELSE z.pv2 END,
        CASE WHEN z.madv THEN 1.0 + z.da33 ELSE z.pv3 END,
        CASE WHEN z.madv THEN 1.0 + z.da44 ELSE z.pv4 END,
        CASE WHEN z.madv THEN CAST(0 AS DOUBLE) ELSE z.pnrm END
      FROM (
        SELECT q.*,
          (q.conv OR q.it = 200) AS madv,
          q.a11 * q.v1 + q.a12 * q.v2 + q.a13 * q.v3 + q.a14 * q.v4 AS pw1,
          q.a21 * q.v1 + q.a22 * q.v2 + q.a23 * q.v3 + q.a24 * q.v4 AS pw2,
          q.a31 * q.v1 + q.a32 * q.v2 + q.a33 * q.v3 + q.a34 * q.v4 AS pw3,
          q.a41 * q.v1 + q.a42 * q.v2 + q.a43 * q.v3 + q.a44 * q.v4 AS pw4,
          sqrt(((pw1 * pw1 + pw2 * pw2) + pw3 * pw3) + pw4 * pw4) AS pnrm,
          pw1 / pnrm AS pv1, pw2 / pnrm AS pv2,
          pw3 / pnrm AS pv3, pw4 / pnrm AS pv4,
          (((pv1 - q.v1) * (pv1 - q.v1) + (pv2 - q.v2) * (pv2 - q.v2))
            + (pv3 - q.v3) * (pv3 - q.v3)) + (pv4 - q.v4) * (pv4 - q.v4) AS pdiff,
          q.a11 - q.lam * q.v1 * q.v1 AS da11, q.a12 - q.lam * q.v1 * q.v2 AS da12,
          q.a13 - q.lam * q.v1 * q.v3 AS da13, q.a14 - q.lam * q.v1 * q.v4 AS da14,
          q.a21 - q.lam * q.v2 * q.v1 AS da21, q.a22 - q.lam * q.v2 * q.v2 AS da22,
          q.a23 - q.lam * q.v2 * q.v3 AS da23, q.a24 - q.lam * q.v2 * q.v4 AS da24,
          q.a31 - q.lam * q.v3 * q.v1 AS da31, q.a32 - q.lam * q.v3 * q.v2 AS da32,
          q.a33 - q.lam * q.v3 * q.v3 AS da33, q.a34 - q.lam * q.v3 * q.v4 AS da34,
          q.a41 - q.lam * q.v4 * q.v1 AS da41, q.a42 - q.lam * q.v4 * q.v2 AS da42,
          q.a43 - q.lam * q.v4 * q.v3 AS da43, q.a44 - q.lam * q.v4 * q.v4 AS da44
        FROM pe_it q WHERE q.comp <= 2) z)
    SELECT CAST(f.comp AS BIGINT) AS comp, CAST(x.idx AS BIGINT) AS idx,
      round(CASE x.idx WHEN 1 THEN f.v1 WHEN 2 THEN f.v2
                       WHEN 3 THEN f.v3 ELSE f.v4 END, 6) AS v,
      round(f.lam, 6) AS lambda
    FROM pe_it f CROSS JOIN (SELECT unnest(range(1, 5)) AS idx) x
    WHERE f.conv AND f.comp <= 2
  """

  // q74: the MC sampler's randomness stream replayed — DuckDB
  // reimplements java.util.Random: the XOR seed scramble, the 48-bit
  // LCG step as HUGEINT modular arithmetic, next(bits) as integer
  // division by 2^(48-bits), nextDouble as (hi<<27 + lo) / 2^53 (an
  // exact power-of-two scale), and nextInt's modulo branch with the
  // 32-bit-overflow rejection test — then drives the partial
  // Fisher-Yates as a phase state machine with the holdout array
  // carried as a list. Every value is integer or exact-dyadic, so
  // the stream is bit-identical cross-engine.
  private val q74 = """
    WITH RECURSIVE
    mc_seed(sd) AS (VALUES (CAST(42 AS BIGINT)), (CAST(20240815 AS BIGINT))),
    mc_st AS (
      SELECT sd,
        xor(sd, 25214903917) & 281474976710655 AS s48,
        0 AS samp, 0 AS phase, 0 AS fy_i,
        CAST(0 AS BIGINT) AS hi,
        CAST(0 AS DOUBLE) AS tau, CAST(0 AS DOUBLE) AS stf,
        list_transform(range(0, 24), x -> x) AS ixs,
        FALSE AS emit
      FROM mc_seed
      UNION ALL
      SELECT z.sd, z.ns,
        CASE WHEN z.phase = 5 THEN z.samp + 1 ELSE z.samp END,
        CASE z.phase WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3 WHEN 3 THEN 4
          WHEN 4 THEN (CASE WHEN z.rej THEN 4 WHEN z.fy_i + 1 = 6 THEN 5 ELSE 4 END)
          ELSE 0 END,
        CASE WHEN z.phase = 3 OR z.phase = 5 THEN 0
             WHEN z.phase = 4 AND NOT z.rej THEN z.fy_i + 1
             ELSE z.fy_i END,
        CASE WHEN z.phase = 0 OR z.phase = 2 THEN z.n26 ELSE z.hi END,
        CASE WHEN z.phase = 1
             THEN 0.85 + 0.10 * (CAST(z.hi * 134217728 + z.n27 AS DOUBLE) / 9007199254740992.0)
             ELSE z.tau END,
        CASE WHEN z.phase = 3
             THEN 0.1 + 0.9 * (CAST(z.hi * 134217728 + z.n27 AS DOUBLE) / 9007199254740992.0)
             ELSE z.stf END,
        CASE WHEN z.phase = 5 THEN list_transform(range(0, 24), x -> x)
             WHEN z.phase = 4 AND NOT z.rej THEN
               list_transform(range(1, 25), p ->
                 CASE WHEN p = z.fy_i + 1 THEN z.ixs[z.fy_i + 1 + z.v]
                      WHEN p = z.fy_i + 1 + z.v THEN z.ixs[z.fy_i + 1]
                      ELSE z.ixs[p] END)
             ELSE z.ixs END,
        (z.phase = 4 AND NOT z.rej AND z.fy_i + 1 = 6)
      FROM (
        SELECT q.*,
          CASE WHEN q.phase = 5 THEN q.s48
               ELSE CAST((CAST(q.s48 AS HUGEINT) * 25214903917 + 11) % 281474976710656 AS BIGINT)
          END AS ns,
          ns // 131072 AS r31, ns // 4194304 AS n26, ns // 2097152 AS n27,
          24 - q.fy_i AS bound,
          CASE WHEN (bound & (bound - 1)) = 0 THEN (bound * r31) // 2147483648
               ELSE r31 % bound END AS v,
          CASE WHEN (bound & (bound - 1)) = 0 THEN FALSE
               ELSE (r31 - (r31 % bound) + bound - 1) >= 2147483648 END AS rej
        FROM mc_st q WHERE q.samp < 5) z)
    SELECT sd AS seed, CAST(samp AS BIGINT) AS sample,
      round(tau, 6) AS tau, round(stf, 6) AS stiffness,
      array_to_string(list_sort(ixs[7:24]), ',') AS keep_csv
    FROM mc_st WHERE emit
  """

  // q78: the generic as-of join cross-checked against DuckDB's
  // NATIVE ASOF JOIN — the oracle's range algorithm vs the Spark
  // union-window carry. Right exact (user, ts) ties collapse to the
  // max 6-dp value on both sides (round is monotone, so round-then-
  // max equals max-then-round); floor(epoch()) mirrors Spark's
  // flooring timestamp->long cast.
  private val q78 = """
    WITH ao_clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    ao_p AS (
      SELECT user_id, ts, round(max(value), 6) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT c.event_id, c.user_id,
      CAST(floor(epoch(c.ts)) AS BIGINT) AS ts_s, p.purchase_value
    FROM ao_clicks c ASOF LEFT JOIN ao_p p
      ON c.user_id = p.user_id AND c.ts >= p.ts
  """

  // q79: the point-in-interval band join vs the naive inequality
  // join DuckDB executes directly — Spark's bucketed equi-join +
  // post-filter must emit exactly the same (click, purchase) pairs.
  private val q79 = """
    WITH ij_clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    ij_p AS (
      SELECT user_id, ts AS p_start, ts + INTERVAL 2 DAY AS p_end,
        event_id AS purchase_id, round(value, 6) AS purchase_value
      FROM events WHERE event_type = 'purchase')
    SELECT c.event_id, p.purchase_id, c.user_id,
      CAST(floor(epoch(c.ts)) AS BIGINT) AS ts_s, p.purchase_value
    FROM ij_clicks c JOIN ij_p p
      ON c.user_id = p.user_id AND c.ts >= p.p_start AND c.ts < p.p_end
  """

  // q80: the Huber location IRLS (the longitude study's fit_huber
  // estimator) replayed with the q72 idiom — μ carried through every
  // iteration, the weighted sums as ORDERED list_reduce folds so the
  // float accumulation order matches the operator's left-to-right
  // loop, the exact 1e-12 fixed-point exit. Seed lists CAST to
  // DOUBLE[] (the DECIMAL-inference trap). The final row per series
  // (max it) is the value the operator returns.
  private val q80 = """
    WITH RECURSIVE
    hub_src AS (
      SELECT 1 AS sid, [1.0,2.5,-3.25,40.0,2.0,1.75,-0.5,100.0,3.0,2.25,1.5]::DOUBLE[] AS xs
      UNION ALL SELECT 2, [10.0,12.0,11.5,9.75,10.25,10.5,11.0]::DOUBLE[]
      UNION ALL SELECT 3, [-5.0,120.0,-4.5,-130.0,-5.25,-4.75,-5.5,200.0,-6.0]::DOUBLE[]),
    hub_it AS (
      SELECT sid, 0 AS it, list_sort(xs)[(len(xs)+1)//2] AS mu, true AS moved FROM hub_src
      UNION ALL
      SELECT h.sid, h.it + 1,
        CASE WHEN n_sw > 0 THEN n_swx / n_sw ELSE h.mu END,
        abs(CASE WHEN n_sw > 0 THEN n_swx / n_sw ELSE h.mu END - h.mu) > 0.000000000001
      FROM hub_it h JOIN hub_src s ON s.sid = h.sid,
      LATERAL (SELECT
        list_reduce(list_transform(s.xs, x ->
          CASE WHEN abs(x - h.mu) <= 15.0 THEN 1.0 ELSE 15.0 / abs(x - h.mu) END),
          (a, b) -> a + b) AS n_sw,
        list_reduce(list_transform(s.xs, x ->
          (CASE WHEN abs(x - h.mu) <= 15.0 THEN 1.0 ELSE 15.0 / abs(x - h.mu) END) * x),
          (a, b) -> a + b) AS n_swx) z
      WHERE h.moved AND h.it < 100)
    SELECT CAST(sid AS BIGINT) AS series_id, round(mu, 6) AS huber
    FROM (SELECT sid, mu, row_number() OVER (PARTITION BY sid ORDER BY it DESC) AS rk
          FROM hub_it) t
    WHERE rk = 1
  """

  // q81: the seasonal daytime-threshold kernel (pinball IRLS where
  // every iteration solves a pentadiagonal SPD system) — the q72 and
  // q77 idioms COMPOSED. Three chained banded solves (w = 1 seed,
  // then two reweighted iterations), each replayed as the q77
  // factor/forward/back recursions reading that iteration's band CTE;
  // the weight CTEs replay the exact pinball g/max(|r|, 1e-6)
  // arithmetic off the previous solution. The D₂ᵀD₂ band constants
  // (1/5/6, −2/−4, 1) are emitted per row in the literal source.
  // MATERIALIZED snapshots after every recursion are load-bearing:
  // DuckDB inlines CTE references, so a recursion that joins another
  // recursion's result re-evaluates it PER STEP — across three
  // chained solves the re-evaluation tree is exponential (the first
  // attempt ran >60 s; with snapshots the whole gate is ~0.15 s).
  private def q81BandedSolve(k: Int, bandTbl: String): String = {
    val p = s"sq$k"
    s"""
    ${p}_l AS (
      SELECT s.j, sqrt(greatest(s.d0, 0.000000000001)) AS l0,
        s.d1 / sqrt(greatest(s.d0, 0.000000000001)) AS l1,
        s.d2 / sqrt(greatest(s.d0, 0.000000000001)) AS l2,
        CAST(0 AS DOUBLE) AS pl2
      FROM $bandTbl s WHERE s.j = 0
      UNION ALL
      SELECT z.nj, z.nd,
        CASE WHEN z.nj + 1 < 10 THEN (z.nd1 - z.l2 * z.l1) / z.nd ELSE CAST(0 AS DOUBLE) END,
        CASE WHEN z.nj + 2 < 10 THEN z.nd2 / z.nd ELSE CAST(0 AS DOUBLE) END,
        z.l2
      FROM (
        SELECT q.*, s.j AS nj, s.d1 AS nd1, s.d2 AS nd2,
          sqrt(greatest(
            CASE WHEN s.j >= 2 THEN (s.d0 - q.l1 * q.l1) - q.pl2 * q.pl2
                 ELSE s.d0 - q.l1 * q.l1 END,
            0.000000000001)) AS nd
        FROM ${p}_l q JOIN $bandTbl s ON s.j = q.j + 1
        WHERE q.j < 9) z),
    ${p}_lm AS MATERIALIZED (SELECT * FROM ${p}_l),
    ${p}_y AS (
      SELECT l.j AS i, s.bv / l.l0 AS yi, CAST(0 AS DOUBLE) AS yim1,
        l.l1 AS cl1, l.l2 AS cl2, CAST(0 AS DOUBLE) AS cl2m1
      FROM ${p}_lm l JOIN $bandTbl s ON s.j = l.j WHERE l.j = 0
      UNION ALL
      SELECT q.i + 1,
        ((s.bv - q.cl1 * q.yi) - q.cl2m1 * q.yim1) / l.l0 AS nyi,
        q.yi, l.l1, l.l2, q.cl2
      FROM ${p}_y q
      JOIN $bandTbl s ON s.j = q.i + 1
      JOIN ${p}_lm l ON l.j = q.i + 1
      WHERE q.i < 9),
    ${p}_ym AS MATERIALIZED (SELECT * FROM ${p}_y),
    ${p}_x AS (
      SELECT y.i, y.yi / l.l0 AS xi, CAST(0 AS DOUBLE) AS xip1
      FROM ${p}_ym y JOIN ${p}_lm l ON l.j = y.i WHERE y.i = 9
      UNION ALL
      SELECT q.i - 1,
        ((y.yi - l.l1 * q.xi) - l.l2 * q.xip1) / l.l0 AS nxi,
        q.xi
      FROM ${p}_x q
      JOIN ${p}_ym y ON y.i = q.i - 1
      JOIN ${p}_lm l ON l.j = q.i - 1
      WHERE q.i > 0),
    ${p}_xm AS MATERIALIZED (SELECT * FROM ${p}_x)"""
  }

  private def q81Weights(k: Int): String =
    s"""
    sq${k}_w AS MATERIALIZED (
      SELECT s.j,
        (CASE WHEN (s.y - x.xi) < 0 THEN 0.25 ELSE 0.75 END)
          / greatest(abs(s.y - x.xi), 0.000001) AS w
      FROM sq_src s JOIN sq${k - 1}_xm x ON x.i = s.j),
    sq${k}_band AS MATERIALIZED (
      SELECT s.j, w.w + 1000000.0 * s.d0c AS d0, 1000000.0 * s.o1 AS d1,
        1000000.0 * s.o2 AS d2, w.w * s.y AS bv
      FROM sq_src s JOIN sq${k}_w w ON w.j = s.j)"""

  private val q81: String = {
    val ys = Seq(2.0, 2.5, 3.25, 4.0, 4.5, 12.0, 4.25, 3.5, 2.75, 2.25)
    val n = ys.length
    val rows = ys.zipWithIndex.map { case (y, j) =>
      val d0c = (if (j <= n - 3) 1 else 0) + (if (j >= 1 && j <= n - 2) 4 else 0) +
        (if (j >= 2) 1 else 0)
      val o1 = (if (j >= n - 1) 0 else (if (j <= n - 3) -2 else 0) + (if (j >= 1) -2 else 0))
      val o2 = if (j <= n - 3) 1 else 0
      s"($j, CAST($y AS DOUBLE), CAST($d0c AS DOUBLE), CAST($o1 AS DOUBLE), CAST($o2 AS DOUBLE))"
    }.mkString(", ")
    s"""
    WITH RECURSIVE
    sq_src(j, y, d0c, o1, o2) AS (VALUES $rows),
    sq0_band AS MATERIALIZED (
      SELECT j, 1.0 + 1000000.0 * d0c AS d0, 1000000.0 * o1 AS d1,
        1000000.0 * o2 AS d2, y AS bv
      FROM sq_src),
    ${q81BandedSolve(0, "sq0_band")},
    ${q81Weights(1)},
    ${q81BandedSolve(1, "sq1_band")},
    ${q81Weights(2)},
    ${q81BandedSolve(2, "sq2_band")}
    SELECT CAST(i AS BIGINT) AS i, round(xi, 6) AS x FROM sq2_xm
  """
  }

  // q83: the as-of join's FORWARD direction — the same native ASOF
  // JOIN algorithm with the inequality reversed (earliest right row
  // at-or-after each left row). Right exact ties collapse like q78.
  private val q83 = """
    WITH af_clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    af_p AS (
      SELECT user_id, ts, round(max(value), 6) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT c.event_id, c.user_id,
      CAST(floor(epoch(c.ts)) AS BIGINT) AS ts_s, p.purchase_value
    FROM af_clicks c ASOF LEFT JOIN af_p p
      ON c.user_id = p.user_id AND c.ts <= p.ts
  """

  // q82: q79's band-join family written with no equi key at all —
  // the shape Catalyst can only nested-loop and IntervalJoinRule
  // rewrites by default. Same naive inequality join on the DuckDB
  // side; thinned interval side keeps the cross-product gate-sized.
  private val q82 = """
    WITH ir_clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    ir_p AS (
      SELECT ts AS p_start, ts + INTERVAL 6 HOUR AS p_end,
        event_id AS purchase_id, round(value, 6) AS purchase_value
      FROM events WHERE event_type = 'purchase' AND event_id % 40 = 0)
    SELECT c.event_id, p.purchase_id, c.user_id,
      CAST(floor(epoch(c.ts)) AS BIGINT) AS ts_s, p.purchase_value
    FROM ir_clicks c JOIN ir_p p
      ON c.ts >= p.p_start AND c.ts < p.p_end
  """

  // q77: the banded Cholesky (hw = 2) replayed bit-exactly — the
  // factor recursion carries (l0, l1, l2, prev l2) per column with
  // the 1e-12 sqrt guard and both correction terms in the operator's
  // own subtraction order; forward substitution carries (y_i, y_i-1)
  // plus the l-values it needs; back substitution walks the stored
  // factor and forward rows downward. All inputs are dyadic
  // rationals and every recurrence is sequential, so the float order
  // is pinned on both engines.
  private val q77 = """
    WITH RECURSIVE
    bc_src AS (
      SELECT j,
        (60.0 + CAST((j * 7) % 5 AS DOUBLE)) / 8.0 AS d0,
        (-16.0 + CAST((j * 3) % 4 AS DOUBLE)) / 8.0 AS d1,
        (4.0 + CAST((j * 5) % 3 AS DOUBLE)) / 8.0 AS d2,
        (CAST((j * 11) % 13 - 6 AS DOUBLE)) / 4.0 AS bv
      FROM (SELECT unnest(range(0, 12)) AS j) g),
    bc_l AS (
      SELECT s.j, sqrt(greatest(s.d0, 0.000000000001)) AS l0,
        s.d1 / sqrt(greatest(s.d0, 0.000000000001)) AS l1,
        s.d2 / sqrt(greatest(s.d0, 0.000000000001)) AS l2,
        CAST(0 AS DOUBLE) AS pl2
      FROM bc_src s WHERE s.j = 0
      UNION ALL
      SELECT z.nj, z.nd,
        CASE WHEN z.nj + 1 < 12 THEN (z.nd1 - z.l2 * z.l1) / z.nd ELSE CAST(0 AS DOUBLE) END,
        CASE WHEN z.nj + 2 < 12 THEN z.nd2 / z.nd ELSE CAST(0 AS DOUBLE) END,
        z.l2
      FROM (
        SELECT q.*, s.j AS nj, s.d1 AS nd1, s.d2 AS nd2,
          sqrt(greatest(
            CASE WHEN s.j >= 2 THEN (s.d0 - q.l1 * q.l1) - q.pl2 * q.pl2
                 ELSE s.d0 - q.l1 * q.l1 END,
            0.000000000001)) AS nd
        FROM bc_l q JOIN bc_src s ON s.j = q.j + 1
        WHERE q.j < 11) z),
    bc_y AS (
      SELECT l.j AS i, s.bv / l.l0 AS yi, CAST(0 AS DOUBLE) AS yim1,
        l.l1 AS cl1, l.l2 AS cl2, CAST(0 AS DOUBLE) AS cl2m1
      FROM bc_l l JOIN bc_src s ON s.j = l.j WHERE l.j = 0
      UNION ALL
      SELECT q.i + 1,
        ((s.bv - q.cl1 * q.yi) - q.cl2m1 * q.yim1) / l.l0 AS nyi,
        q.yi, l.l1, l.l2, q.cl2
      FROM bc_y q
      JOIN bc_src s ON s.j = q.i + 1
      JOIN bc_l l ON l.j = q.i + 1
      WHERE q.i < 11),
    bc_x AS (
      SELECT y.i, y.yi / l.l0 AS xi, CAST(0 AS DOUBLE) AS xip1
      FROM bc_y y JOIN bc_l l ON l.j = y.i WHERE y.i = 11
      UNION ALL
      SELECT q.i - 1,
        ((y.yi - l.l1 * q.xi) - l.l2 * q.xip1) / l.l0 AS nxi,
        q.xi
      FROM bc_x q
      JOIN bc_y y ON y.i = q.i - 1
      JOIN bc_l l ON l.j = q.i - 1
      WHERE q.i > 0)
    SELECT CAST(i AS BIGINT) AS i, round(xi, 6) AS x FROM bc_x
  """

  // q75: PVPro's alternating decomposition replayed — 5 unrolled
  // rounds (the d25 BPE loop-unroll idiom), each: the zero-mean
  // Fourier LS fit as a 2×2 Cramer solve on the 1e-9-ridged normal
  // equations, then the monotone non-increasing PAVA step via its
  // minimax identity (trend_i = min_{a≤i} max_{b≥i} mean(z[a..b]) —
  // pool-free, so no recursion needed; interval means come from
  // prefix-sum differences). The alternation is a pair of
  // projections (a contraction), so the engines' differing float
  // paths agree far inside the 6-dp rounding.
  private val q75 = {
    val head = """
    WITH
    pv_src AS (
      SELECT i, 12.0 - 0.4 * i + CAST((i * 37) % 11 - 5 AS DOUBLE) / 3.0 AS y
      FROM (SELECT unnest(range(0, 20)) AS i) g),
    pv_des AS (
      SELECT i, y,
        cos(2.0 * pi() * 1 * CAST(i AS DOUBLE) / 10.0) AS c,
        sin(2.0 * pi() * 1 * CAST(i AS DOUBLE) / 10.0) AS s
      FROM pv_src),
    pv_g AS (
      SELECT sum(c * c) + 0.000000001 AS s11, sum(c * s) AS s12,
             sum(s * s) + 0.000000001 AS s22
      FROM pv_des),
    pv_t0 AS (SELECT i, CAST(0 AS DOUBLE) AS tr FROM pv_src)"""
    def round(r: Int): String = {
      val p = r - 1
      s"""
    pv_b$r AS (
      SELECT (z.r1 * g.s22 - g.s12 * z.r2) / (g.s11 * g.s22 - g.s12 * g.s12) AS b1,
             (g.s11 * z.r2 - g.s12 * z.r1) / (g.s11 * g.s22 - g.s12 * g.s12) AS b2
      FROM (SELECT sum(d.c * (d.y - t.tr)) AS r1, sum(d.s * (d.y - t.tr)) AS r2
            FROM pv_des d JOIN pv_t$p t USING (i)) z, pv_g g),
    pv_se$r AS (
      SELECT d.i, b.b1 * d.c + b.b2 * d.s AS se FROM pv_des d CROSS JOIN pv_b$r b),
    pv_cz$r AS (
      SELECT d.i, d.y - se.se AS z,
             sum(d.y - se.se) OVER (ORDER BY d.i) AS cz
      FROM pv_des d JOIN pv_se$r se ON d.i = se.i),
    pv_iv$r AS (
      SELECT a.i AS a, b.i AS b, (b.cz - a.cz + a.z) / (b.i - a.i + 1) AS av
      FROM pv_cz$r a JOIN pv_cz$r b ON a.i <= b.i),
    pv_mx$r AS (
      SELECT p.i, v.a, max(v.av) AS mx
      FROM pv_iv$r v JOIN pv_src p ON v.a <= p.i AND v.b >= p.i
      GROUP BY p.i, v.a),
    pv_t$r AS (SELECT i, min(mx) AS tr FROM pv_mx$r GROUP BY i)"""
    }
    (head +: (1 to 5).map(round)).mkString(",") + """
    SELECT d.i, round(t.tr, 6) AS trend, round(se.se, 6) AS seasonal
    FROM pv_src d JOIN pv_t5 t ON d.i = t.i JOIN pv_se5 se ON d.i = se.i
  """
  }

  // q76: the soiling-envelope pinball IRLS replayed at harmonics=0
  // (design [1, t]) — log transform, the exact 1.0-τ double
  // (0.09999999999999998, not the decimal 0.1), per-step 2x2 Cramer
  // on the 1e-9-ridged normal equations, and the max-|Δβ| ≤ 1e-10
  // early exit, carried by a RECURSIVE CTE. Contraction fixed point
  // → engine float-path differences vanish at 6 dp.
  private val q76 = """
    WITH RECURSIVE
    sr_src AS (
      SELECT i,
        ln(greatest((200.0 - 2.0 * i + CAST((i * 53) % 17 - 8 AS DOUBLE)) / 10.0,
                    0.000000001)) AS ly,
        CAST(i AS DOUBLE) AS t
      FROM (SELECT unnest(range(0, 24)) AS i) g),
    sr_d AS (
      SELECT list(ly ORDER BY i) AS yv, list(t ORDER BY i) AS tv,
             CAST(count(*) AS BIGINT) AS m
      FROM sr_src),
    sr_it AS (
      SELECT -1 AS it, CAST(NULL AS DOUBLE[]) AS w,
        CAST(0 AS DOUBLE) AS s00, CAST(0 AS DOUBLE) AS s01,
        CAST(0 AS DOUBLE) AS s11, CAST(0 AS DOUBLE) AS r0,
        CAST(0 AS DOUBLE) AS r1, CAST(0 AS DOUBLE) AS det,
        CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS b1,
        FALSE AS conv
      FROM sr_d
      UNION ALL
      SELECT q.it + 1,
        CASE WHEN q.it = -1
             THEN list_transform(range(1, d.m + 1), j -> CAST(1.0 AS DOUBLE))
             ELSE list_transform(range(1, d.m + 1), j ->
               (CASE WHEN d.yv[j] - (q.b0 + q.b1 * d.tv[j]) < 0
                     THEN 0.09999999999999998 ELSE 0.9 END)
               / greatest(abs(d.yv[j] - (q.b0 + q.b1 * d.tv[j])), 0.000001)) END AS nw,
        list_sum(nw) + 0.000000001 AS n00,
        list_sum(list_transform(range(1, d.m + 1), j -> nw[j] * d.tv[j])) AS n01,
        list_sum(list_transform(range(1, d.m + 1), j -> nw[j] * d.tv[j] * d.tv[j]))
          + 0.000000001 AS n11,
        list_sum(list_transform(range(1, d.m + 1), j -> nw[j] * d.yv[j])) AS m0,
        list_sum(list_transform(range(1, d.m + 1), j -> nw[j] * d.tv[j] * d.yv[j])) AS m1,
        n00 * n11 - n01 * n01 AS ndet,
        (m0 * n11 - n01 * m1) / ndet AS nb0,
        (n00 * m1 - n01 * m0) / ndet AS nb1,
        q.it >= 0 AND greatest(abs(nb0 - q.b0), abs(nb1 - q.b1)) <= 0.0000000001 AS nconv
      FROM sr_it q JOIN sr_d d ON TRUE
      WHERE NOT q.conv AND q.it < 40)
    SELECT coef, round(v, 6) AS value FROM (
      SELECT CAST(0 AS BIGINT) AS coef, b0 AS v FROM sr_it WHERE conv OR it = 40
      UNION ALL
      SELECT CAST(1 AS BIGINT), b1 FROM sr_it WHERE conv OR it = 40
      UNION ALL
      SELECT CAST(2 AS BIGINT), b1 FROM sr_it WHERE conv OR it = 40)
  """

  // The full dilation operator replayed — threshold rise/set,
  // (h, v)-ordered trapezoid cumulative, interpCum's clamp/bracket
  // rules (x ≤ first sample → 0; x ≥ last → total; else the
  // piecewise-quadratic partial integral) evaluated at all nBins+1
  // boundaries via the union-window bracket idiom (samples sort
  // before a boundary at the same position — the bisect's rightmost
  // ts ≤ x rule), then the per-bin density quotient, 6 dp.
  // Parameterized on the grid size: p02 gates at 100 bins, the
  // p03/p04 composition gates reuse it at 40 (their pipelines dilate
  // at nBins = 40). Terminal CTE: dil(site, day, dil_slot, dil_value).
  private def dilationCte(nBins: Int): String = s"""
    dmx AS (SELECT user_id, max(value) AS m FROM events GROUP BY 1),
    dpts AS (
      SELECT e.user_id AS site, CAST(CAST(e.ts AS DATE) AS VARCHAR) AS day,
        date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 AS h,
        CAST(e.value AS DOUBLE) AS v, m.m * 0.01 AS thr
      FROM events e JOIN dmx m ON e.user_id = m.user_id
      WHERE e.ts IS NOT NULL AND e.value IS NOT NULL),
    drs AS (
      SELECT site, day,
        min(CASE WHEN v > thr THEN h END) AS rise,
        max(CASE WHEN v > thr THEN h END) AS set_h,
        count(CASE WHEN v > thr THEN 1 END) AS n_lit
      FROM dpts GROUP BY 1, 2),
    dok AS (
      SELECT site, day, rise, set_h, (set_h - rise) / $nBins.0 AS dg
      FROM drs WHERE n_lit >= 2 AND set_h > rise),
    dseg AS (
      SELECT p.site, p.day, p.h, p.v
      FROM dpts p JOIN dok o ON p.site = o.site AND p.day = o.day
      WHERE p.h >= o.rise AND p.h <= o.set_h),
    dinc AS (
      SELECT site, day, h, v,
        row_number() OVER dw AS rn,
        CASE WHEN lag(h) OVER dw IS NULL THEN 0.0
             ELSE (v + lag(v) OVER dw) / 2.0 * (h - lag(h) OVER dw) END AS inc
      FROM dseg
      WINDOW dw AS (PARTITION BY site, day ORDER BY h, v)),
    dcum AS (
      SELECT site, day, h, v, rn,
        sum(inc) OVER (PARTITION BY site, day ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM dinc),
    dbound AS (
      SELECT o.site, o.day, CAST(g.b AS INT) AS b, o.dg,
        o.rise + g.b * o.dg AS x
      FROM dok o CROSS JOIN (SELECT unnest(range(0, ${nBins + 1})) AS b) g),
    duni AS (
      SELECT site, day, h AS pos, 1 AS is_sample, rn, v, cum,
        CAST(NULL AS INT) AS b, CAST(NULL AS DOUBLE) AS dg
      FROM dcum
      UNION ALL
      SELECT site, day, x AS pos, 0 AS is_sample, CAST(NULL AS BIGINT) AS rn,
        CAST(NULL AS DOUBLE) AS v, CAST(NULL AS DOUBLE) AS cum, b, dg
      FROM dbound),
    dbr AS (
      SELECT site, day, pos, is_sample, b, dg,
        last_value(CASE WHEN is_sample = 1 THEN pos END IGNORE NULLS) OVER wu AS t_lo,
        last_value(CASE WHEN is_sample = 1 THEN v END IGNORE NULLS) OVER wu AS v_lo,
        last_value(CASE WHEN is_sample = 1 THEN cum END IGNORE NULLS) OVER wu AS c_lo,
        first_value(CASE WHEN is_sample = 1 THEN pos END IGNORE NULLS) OVER wa AS t_hi,
        first_value(CASE WHEN is_sample = 1 THEN v END IGNORE NULLS) OVER wa AS v_hi
      FROM duni
      WINDOW
        wu AS (PARTITION BY site, day ORDER BY pos, is_sample DESC, rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wa AS (PARTITION BY site, day ORDER BY pos, is_sample DESC, rn
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
    dvals AS (
      SELECT site, day, b, dg,
        CASE WHEN t_lo IS NULL THEN 0.0
             WHEN t_hi IS NULL THEN c_lo
             ELSE c_lo + (v_lo + (v_lo + (pos - t_lo) / (t_hi - t_lo) * (v_hi - v_lo)))
                  / 2.0 * (pos - t_lo)
        END AS cumx
      FROM dbr WHERE is_sample = 0),
    dil AS (
      SELECT site, day, b AS dil_slot,
        round((lead(cumx) OVER (PARTITION BY site, day ORDER BY b) - cumx) / dg, 6) AS dil_value,
        (lead(cumx) OVER (PARTITION BY site, day ORDER BY b) - cumx) / dg AS dil_raw
      FROM dvals
      QUALIFY b < $nBins)
  """

  private val p02 = s"""
    WITH ${dilationCte(100)}
    SELECT site, day, dil_slot, dil_value FROM dil
  """

  // q84/q85: the sensor-identification CV replayed END TO END — the
  // synthesized sensor channels (exact rational arithmetic, no libm),
  // the day-grain integer-micro moment sums, the clear/cloudy day
  // filters (the q54 clear-day replay), ntile TimeSeriesSplit folds,
  // the cumulative-window train-side OLS, and the pooled test-fold
  // residual algebra — every double op in SparkId.identify's own
  // association order. Terminal CTE: si_res(site, sensor, filter,
  // n_days, n_obs, corr, cv_rmse, cv_mbe).
  // The day-grain sensor-ID input shared by the OLS CV replay (q84/
  // q85) and the Huber-face fleet replay (q91): synthesized sensors,
  // integer-micro day moments, the unpivot, and the day-filter axis.
  // Terminal CTE: si_filt(site, day, n, sy, syy, err, sensor, sx,
  // sxx, sxy, filter).
  private val sensorIdBaseCte: String = s"""
    si_rows AS (
      SELECT user_id AS site, CAST(ts AS DATE) AS day,
        CAST(value AS DOUBLE) AS y,
        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err,
        date_diff('second', date_trunc('day', ts), ts) / 3600.0 AS h,
        CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL),
    si_sx AS (
      SELECT site, day, y, is_err,
        greatest(0.0, 12.0 - abs(h - 12.0)) * 75.0 AS s_tri,
        h * 40.0 AS s_lin,
        CAST(es * 2654435761 % 1000 - 500 AS DOUBLE) / 5.0 AS s_hash
      FROM si_rows),
    si_day AS (
      SELECT site, day,
        CAST(count(*) AS BIGINT) AS n,
        sum(CAST(round(y * 1e6) AS BIGINT)) AS sy,
        sum(CAST(round(y * y * 1e4) AS BIGINT)) AS syy,
        max(is_err) AS err,
        sum(CAST(round(s_tri * 1e6) AS BIGINT)) AS sx_0,
        sum(CAST(round(s_tri * s_tri * 1e4) AS BIGINT)) AS sxx_0,
        sum(CAST(round(s_tri * y * 1e4) AS BIGINT)) AS sxy_0,
        sum(CAST(round(s_lin * 1e6) AS BIGINT)) AS sx_1,
        sum(CAST(round(s_lin * s_lin * 1e4) AS BIGINT)) AS sxx_1,
        sum(CAST(round(s_lin * y * 1e4) AS BIGINT)) AS sxy_1,
        sum(CAST(round(s_hash * 1e6) AS BIGINT)) AS sx_2,
        sum(CAST(round(s_hash * s_hash * 1e4) AS BIGINT)) AS sxx_2,
        sum(CAST(round(s_hash * y * 1e4) AS BIGINT)) AS sxy_2
      FROM si_sx GROUP BY 1, 2),
    si_long AS (
      SELECT site, day, n, sy, syy, err, 's_tri' AS sensor, sx_0 AS sx, sxx_0 AS sxx, sxy_0 AS sxy FROM si_day
      UNION ALL
      SELECT site, day, n, sy, syy, err, 's_lin', sx_1, sxx_1, sxy_1 FROM si_day
      UNION ALL
      SELECT site, day, n, sy, syy, err, 's_hash', sx_2, sxx_2, sxy_2 FROM si_day),
    si_filt AS (
      SELECT l.*, f.filter
      FROM si_long l
      LEFT JOIN cd_flags c ON l.site = c.site AND l.day = c.day
      CROSS JOIN (SELECT unnest(['no_errors', 'clear', 'cloudy']) AS filter) f
      WHERE (f.filter = 'no_errors' AND l.err = 0)
         OR (f.filter = 'clear' AND coalesce(c.clear, false))
         OR (f.filter = 'cloudy' AND NOT coalesce(c.clear, false)))
  """

  private def sensorIdCte(nSplits: Int): String = s"""
    $sensorIdBaseCte,
    si_fold AS (
      SELECT site, sensor, filter, fold,
        CAST(count(*) AS BIGINT) AS f_days,
        sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy,
        sum(sxy) AS sxy, sum(sxx) AS sxx, sum(syy) AS syy
      FROM (
        SELECT *, ntile(${nSplits + 1}) OVER
          (PARTITION BY site, sensor, filter ORDER BY day) AS fold
        FROM si_filt)
      GROUP BY 1, 2, 3, 4),
    si_cum AS (
      SELECT site, sensor, filter, fold, f_days, n, sx, sy, sxy, sxx, syy,
        sum(n) OVER w AS tn,
        CAST(sum(sx) OVER w AS DOUBLE) / 1e6 AS tsx,
        CAST(sum(sy) OVER w AS DOUBLE) / 1e6 AS tsy,
        CAST(sum(sxy) OVER w AS DOUBLE) / 1e4 AS tsxy,
        CAST(sum(sxx) OVER w AS DOUBLE) / 1e4 AS tsxx
      FROM si_fold
      WINDOW w AS (PARTITION BY site, sensor, filter ORDER BY fold
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    si_ab AS (
      SELECT *,
        (tn * tsxy - tsx * tsy) / nullif(tn * tsxx - tsx * tsx, 0.0) AS b
      FROM si_cum),
    si_sc AS (
      SELECT *,
        (tsy - b * tsx) / nullif(CAST(tn AS DOUBLE), 0.0) AS a
      FROM si_ab),
    si_rs AS (
      SELECT site, sensor, filter, fold, f_days, n, sx, sy, sxy, sxx, syy,
        CASE WHEN fold = 1 THEN NULL ELSE
          CAST(round((CAST(syy AS DOUBLE) / 1e4 + n * a * a + b * b * (CAST(sxx AS DOUBLE) / 1e4)
            - 2.0 * a * (CAST(sy AS DOUBLE) / 1e6)
            - 2.0 * b * (CAST(sxy AS DOUBLE) / 1e4)
            + 2.0 * a * b * (CAST(sx AS DOUBLE) / 1e6)) * 1e4) AS BIGINT)
        END AS rss,
        CASE WHEN fold = 1 THEN NULL ELSE
          CAST(round((CAST(sy AS DOUBLE) / 1e6 - n * a - b * (CAST(sx AS DOUBLE) / 1e6)) * 1e6) AS BIGINT)
        END AS sres
      FROM si_sc),
    si_res AS (
      SELECT site, sensor, filter,
        CAST(sum(f_days) AS BIGINT) AS n_days,
        CAST(sum(n) AS BIGINT) AS n_obs,
        CASE WHEN (sum(n) * (CAST(sum(sxx) AS DOUBLE) / 1e4)
                    - (CAST(sum(sx) AS DOUBLE) / 1e6) * (CAST(sum(sx) AS DOUBLE) / 1e6)) > 0.0
               AND (sum(n) * (CAST(sum(syy) AS DOUBLE) / 1e4)
                    - (CAST(sum(sy) AS DOUBLE) / 1e6) * (CAST(sum(sy) AS DOUBLE) / 1e6)) > 0.0
          THEN round(
            (sum(n) * (CAST(sum(sxy) AS DOUBLE) / 1e4)
              - (CAST(sum(sx) AS DOUBLE) / 1e6) * (CAST(sum(sy) AS DOUBLE) / 1e6))
            / sqrt((sum(n) * (CAST(sum(sxx) AS DOUBLE) / 1e4)
                    - (CAST(sum(sx) AS DOUBLE) / 1e6) * (CAST(sum(sx) AS DOUBLE) / 1e6))
                 * (sum(n) * (CAST(sum(syy) AS DOUBLE) / 1e4)
                    - (CAST(sum(sy) AS DOUBLE) / 1e6) * (CAST(sum(sy) AS DOUBLE) / 1e6)))
            * 1000000.0) / 1000000.0
        END AS corr,
        CASE WHEN sum(CASE WHEN fold > 1 THEN 1 ELSE 0 END) = 0
               OR sum(CASE WHEN fold > 1 THEN 1 ELSE 0 END)
                  <> sum(CASE WHEN rss IS NOT NULL THEN 1 ELSE 0 END)
          THEN NULL ELSE
          round(sqrt(greatest(
            (CAST(sum(rss) AS DOUBLE) / 1e4)
              / nullif(CAST(sum(CASE WHEN rss IS NOT NULL THEN n END) AS DOUBLE), 0.0),
            0.0)) * 1000000.0) / 1000000.0
        END AS cv_rmse,
        CASE WHEN sum(CASE WHEN fold > 1 THEN 1 ELSE 0 END) = 0
               OR sum(CASE WHEN fold > 1 THEN 1 ELSE 0 END)
                  <> sum(CASE WHEN sres IS NOT NULL THEN 1 ELSE 0 END)
          THEN NULL ELSE
          round((CAST(sum(sres) AS DOUBLE) / 1e6)
            / nullif(CAST(sum(CASE WHEN sres IS NOT NULL THEN n END) AS DOUBLE), 0.0)
            * 1000000.0) / 1000000.0
        END AS cv_mbe
      FROM si_rs GROUP BY 1, 2, 3)
  """

  private val q84 = s"""
    WITH $clearFlagsCte,
    ${sensorIdCte(6)}
    SELECT site, sensor, filter, n_days, n_obs, corr, cv_rmse, cv_mbe FROM si_res
  """

  private val q85 = s"""
    WITH $clearFlagsCte,
    ${sensorIdCte(6)},
    si_best AS (
      SELECT site, filter, sensor
      FROM si_res
      QUALIFY row_number() OVER
        (PARTITION BY site, filter ORDER BY cv_rmse ASC NULLS LAST, sensor ASC) = 1),
    si_piv AS (
      SELECT site,
        max(CASE WHEN filter = 'no_errors' THEN sensor END) AS choice_no_errors,
        max(CASE WHEN filter = 'clear' THEN sensor END) AS choice_clear,
        max(CASE WHEN filter = 'cloudy' THEN sensor END) AS choice_cloudy
      FROM si_best GROUP BY 1)
    SELECT site,
      CASE WHEN consistent THEN coalesce(choice_no_errors, choice_clear, choice_cloudy) END AS chosen_sensor,
      consistent, choice_no_errors, choice_clear, choice_cloudy
    FROM (
      SELECT *,
        coalesce(len(list_distinct(list_filter(
          [choice_no_errors, choice_clear, choice_cloudy], x -> x IS NOT NULL))) = 1, false) AS consistent
      FROM si_piv) t
  """

  // d44: line-level boilerplate removal replayed end to end — the
  // manufactured 4-line documents (chr(10) everywhere: the SQL text is
  // whitespace-flattened, so a literal newline inside a string would
  // be destroyed), per-line md5 digests, per-doc DISTINCT digest
  // explode, the >= minDocs frequency cut, and the in-row
  // filter-and-reassemble via list lambdas.
  private val d44 = """
    WITH ld AS (
      SELECT doc_id,
        'header ' || source || chr(10) || substr(text, 1, 80) || chr(10) ||
        substr(text, 81, 80) || chr(10) || 'footer ' || lang AS text
      FROM documents),
    lh AS (
      SELECT doc_id,
        unnest(list_distinct(list_transform(string_split(text, chr(10)), l -> md5(l)))) AS h
      FROM ld),
    fq AS (SELECT h FROM lh GROUP BY h HAVING count(*) >= 5),
    farr AS (SELECT list(h) AS boiler FROM fq),
    cl AS (
      SELECT d.doc_id,
        string_split(d.text, chr(10)) AS ls,
        list_filter(string_split(d.text, chr(10)),
          l -> NOT list_contains(f.boiler, md5(l))) AS kept
      FROM ld d CROSS JOIN farr f)
    SELECT doc_id,
      CAST(len(ls) AS BIGINT) AS n_lines,
      CAST(len(ls) - len(kept) AS BIGINT) AS n_removed,
      md5(array_to_string(kept, chr(10))) AS clean_md5,
      CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS clean_len
    FROM cl
  """

  // d45: intra-document line dedup — first-occurrence keep via the
  // indexed list lambda (DuckDB's index is 1-based; the slice of
  // everything before i is list_slice(ls, 1, i-1)).
  private val d45 = """
    WITH ld AS (
      SELECT doc_id,
        substr(text, 1, 40) || chr(10) || substr(text, 41, 60) || chr(10) ||
        substr(text, 1, 40) || chr(10) || 'tail ' || lang AS text
      FROM documents),
    cl AS (
      SELECT doc_id,
        string_split(text, chr(10)) AS ls,
        list_filter(string_split(text, chr(10)),
          (l, i) -> NOT list_contains(list_slice(string_split(text, chr(10)), 1, i - 1), l)) AS kept
      FROM ld)
    SELECT doc_id,
      CAST(len(ls) AS BIGINT) AS n_lines,
      CAST(len(ls) - len(kept) AS BIGINT) AS n_removed,
      md5(array_to_string(kept, chr(10))) AS clean_md5
    FROM cl
  """

  // q87: pvproDecompose5 replayed bit-for-bit on the fixed 12-sample /
  // period-4 / monotonic / 2-round instance. Every stage mirrors the
  // Scala operation order: the 4×4 periodic normal matrix (λ4·pen
  // constants, then per-slot weight adds in ascending-i order, then
  // the 1e-12 ridge), solveSpd's dense Cholesky expression by
  // expression, the zero-sum mean shift, the weighted non-increasing
  // PAVA via the q59 minimax identity with range means as ORDERED
  // list folds, the weighted-mean constant (masked terms add exact
  // 0.0 — the float identity of Scala's skip), and the Huber IRLS
  // reweight. All float literals in e-notation (decimal literals
  // would infer DECIMAL and silently change the arithmetic). Index 8
  // (1-based) is the masked entry; its y slot holds 0 and every
  // consumer guards it, as the Scala known-mask does.
  private def pvpro5RoundCtes(r: Int): String = {
    val slotMembers = Seq(Seq(1, 5, 9), Seq(2, 6, 10), Seq(3, 7, 11), Seq(4, 12))
    val penDiag = Seq("13e0", "17e0", "17e0", "13e0")
    def diag(s0: Int): String =
      s"${penDiag(s0)} * 5e-2" +
        slotMembers(s0).map(i => s" + w[$i]").mkString + " + 1e-12"
    def atb(s0: Int): String =
      slotMembers(s0).map(i => s"w[$i] * (y[$i] - c - x5[$i])").mkString(" + ")
    val n = r + 1
    s"""
    pv_${r}a AS MATERIALIZED (
      SELECT y, w, x5,
        ${diag(0)} AS a00, -10e0 * 5e-2 AS a10, ${diag(1)} AS a11,
        5e0 * 5e-2 AS a20, -12e0 * 5e-2 AS a21, ${diag(2)} AS a22,
        -8e0 * 5e-2 AS a30, 5e0 * 5e-2 AS a31, -10e0 * 5e-2 AS a32,
        ${diag(3)} AS a33,
        ${atb(0)} AS t0, ${atb(1)} AS t1, ${atb(2)} AS t2, ${atb(3)} AS t3,
        sqrt(greatest(a00, 1e-12)) AS l00,
        a10 / l00 AS l10,
        sqrt(greatest(a11 - l10 * l10, 1e-12)) AS l11,
        a20 / l00 AS l20,
        (a21 - l20 * l10) / l11 AS l21,
        sqrt(greatest(a22 - l20 * l20 - l21 * l21, 1e-12)) AS l22,
        a30 / l00 AS l30,
        (a31 - l30 * l10) / l11 AS l31,
        (a32 - l30 * l20 - l31 * l21) / l22 AS l32,
        sqrt(greatest(a33 - l30 * l30 - l31 * l31 - l32 * l32, 1e-12)) AS l33,
        t0 / l00 AS fy0,
        (t1 - l10 * fy0) / l11 AS fy1,
        (t2 - l20 * fy0 - l21 * fy1) / l22 AS fy2,
        (t3 - l30 * fy0 - l31 * fy1 - l32 * fy2) / l33 AS fy3,
        fy3 / l33 AS bx3,
        (fy2 - l32 * bx3) / l22 AS bx2,
        (fy1 - l21 * bx2 - l31 * bx3) / l11 AS bx1,
        (fy0 - l10 * bx1 - l20 * bx2 - l30 * bx3) / l00 AS bx0,
        (((bx0 + bx1) + bx2) + bx3) / 4e0 AS mu,
        [bx0 - mu, bx1 - mu, bx2 - mu, bx3 - mu] AS u2,
        c + mu AS c2
      FROM pv_st$r),
    pv_${r}rows AS MATERIALIZED (
      SELECT g.i,
        CASE WHEN g.i = 8 THEN 0e0
          ELSE a.y[g.i] - a.c2 - a.u2[((g.i - 1) % 4) + 1] END AS v,
        CASE WHEN g.i = 8 THEN 1e-12 ELSE a.w[g.i] END AS wt
      FROM pv_${r}a a CROSS JOIN (SELECT unnest(range(1, 13)) AS i) g),
    pv_${r}l AS MATERIALIZED (
      SELECT list(wt * v ORDER BY i) AS wv, list(wt ORDER BY i) AS wl
      FROM pv_${r}rows),
    pv_${r}m AS MATERIALIZED (
      SELECT ga.a, gb.b,
        list_reduce(list_slice(l.wv, ga.a, gb.b), (p, q) -> p + q)
          / list_reduce(list_slice(l.wl, ga.a, gb.b), (p, q) -> p + q) AS m
      FROM (SELECT unnest(range(1, 13)) AS a) ga
      JOIN (SELECT unnest(range(1, 13)) AS b) gb ON gb.b >= ga.a
      CROSS JOIN pv_${r}l l),
    pv_${r}mx AS MATERIALIZED (
      SELECT gi.i, m.a, max(m.m) AS mx
      FROM pv_${r}m m JOIN (SELECT unnest(range(1, 13)) AS i) gi
        ON m.a <= gi.i AND m.b >= gi.i
      GROUP BY 1, 2),
    pv_${r}fit AS MATERIALIZED (
      SELECT i, min(mx) AS fit FROM pv_${r}mx GROUP BY 1),
    pv_${r}b AS MATERIALIZED (
      SELECT a.y, a.w, a.u2 AS u, a.c2 + f1.f1 AS cb,
        (SELECT list(f.fit - f1.f1 ORDER BY f.i) FROM pv_${r}fit f) AS x5b
      FROM pv_${r}a a
      CROSS JOIN (SELECT fit AS f1 FROM pv_${r}fit WHERE i = 1) f1),
    pv_${r}c AS MATERIALIZED (
      SELECT y, w, u, x5b,
        list_reduce(list_transform(range(1, 13), i ->
          CASE WHEN i = 8 THEN 0e0
            ELSE w[i] * (y[i] - u[((i - 1) % 4) + 1] - x5b[i]) END),
          (p, q) -> p + q)
        / list_reduce(list_transform(range(1, 13), i ->
          CASE WHEN i = 8 THEN 0e0 ELSE w[i] END), (p, q) -> p + q) AS cc
      FROM pv_${r}b),
    pv_st$n AS MATERIALIZED (
      SELECT y, u, x5b AS x5, cc AS c,
        list_transform(range(1, 13), i ->
          CASE WHEN i = 8 THEN w[i]
            WHEN abs(y[i] - cc - u[((i - 1) % 4) + 1] - x5b[i])
                 <= CAST(12 AS DOUBLE) * 1e-2 / 2e0
              THEN 1e0 / CAST(12 AS DOUBLE)
            ELSE 1e-2 / (2e0 * greatest(
              abs(y[i] - cc - u[((i - 1) % 4) + 1] - x5b[i]), 1e-12))
          END) AS w
      FROM pv_${r}c)"""
  }

  private val q87 = s"""
    WITH pv_y AS (
      SELECT [4.5e0, 4.2e0, 3.9e0, 4.1e0, 4.42e0, 4.12e0,
              3.8e0, 0e0, 4.3e0, 4e0, 3.66e0, 3.86e0] AS y),
    pv_st1 AS MATERIALIZED (
      SELECT y,
        list_transform(range(1, 13), i -> 1e0 / CAST(12 AS DOUBLE)) AS w,
        list_reduce(list_transform(range(1, 13), i ->
          CASE WHEN i = 8 THEN 0e0 ELSE y[i] END), (p, q) -> p + q) / 11e0 AS c,
        [0e0, 0e0, 0e0, 0e0] AS u,
        list_transform(range(1, 13), i -> 0e0) AS x5
      FROM pv_y),
    ${pvpro5RoundCtes(1)},
    ${pvpro5RoundCtes(2)},
    pv_out AS (
      SELECT g.i AS gi,
        CASE WHEN g.i = 8 THEN 0e0
          ELSE st.y[g.i] - st.c - st.u[((g.i - 1) % 4) + 1] - st.x5[g.i] END AS z,
        CASE WHEN g.i = 8 THEN 0e0
          WHEN z >= 0e0 THEN least(z, CAST(12 AS DOUBLE) * 1e-2 / 2e0)
          ELSE greatest(z, -(CAST(12 AS DOUBLE) * 1e-2 / 2e0)) END AS x1v,
        st.c AS cv, st.u[((g.i - 1) % 4) + 1] AS x4v, st.x5[g.i] AS x5v
      FROM pv_st3 st CROSS JOIN (SELECT unnest(range(1, 13)) AS i) g)
    SELECT CAST(gi - 1 AS BIGINT) AS i,
      round(x1v, 6) AS x1, round(z - x1v, 6) AS x2, round(cv, 6) AS x3,
      round(x4v, 6) AS x4, round(x5v, 6) AS x5
    FROM pv_out
  """

  // q86: the full-fidelity loss-factor SD invariant gate — day counts
  // relational, the component constraints and the exact Shapley
  // efficiency identity stated as known-true literals (LossFactorSpec
  // carries the synthetic-recovery contracts).
  private val q86 = """
    SELECT user_id AS site,
      CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      true AS soil_nonpos, true AS cap_zero, true AS deg_linear,
      true AS resid_masked, true AS shapley_exact, true AS all_finite
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY 1
  """

  // p01: the composed fleet pipeline, invariant-gated (the d29/e09
  // known-true-literal idiom). The relational columns (n_days,
  // capacity — the q17 definitions) are computed by both engines; the
  // solver-stage outputs are gated through invariants that are TRUE BY
  // CONSTRUCTION of a correct composition (fractions in [0,1], counts
  // bounded by the day count, Shapley factors finite, MC percentiles
  // ordered, sample count inside the 20..500 stabilization window) plus
  // the per-stage error channel pinned EMPTY — any stage that throws,
  // any NaN/Inf escape, or any bound violation breaks the hash. The
  // solver cores themselves carry bit-exact fixed-literal gates
  // (q72–q77, q80, q81) and golden-fixture specs.
  private val p01 = """
    SELECT user_id AS site,
      CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      round(quantile_cont(value, 0.95), 6) AS capacity,
      '' AS errors,
      true AS quality_in01, true AS clear_in01, true AS clearsky_bounded,
      true AS clusters_bounded, true AS capchanges_bounded,
      true AS shifts_bounded, true AS losses_finite,
      true AS mc_ordered, true AS mc_bounded
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY 1
  """

  // p03: quantile + clear-sky composition — the dilated input grain is
  // replayed EXACTLY (the p02 operator oracle at this pipeline's 40-bin
  // grid), so the hash certifies the composition fed the solver the
  // right 111k-row table; the per-row IRLS quantile outputs are gated
  // finite (a diverged fit, NaN ratio, or missing row breaks the hash).
  private val p03 = s"""
    WITH ${dilationCte(40)}
    SELECT site, day, dil_slot, dil_value, true AS qs_finite FROM dil
  """

  // p04: fleet-PCA shade composition — slot counts replayed from the
  // 40-bin dilation grain; the eigen/projection outputs gated through
  // construction-true invariants (shaded fraction in [0,1],
  // shade_frac >= 0 per projectRows' clamp, longest run bounded by the
  // slot count and consistent with the fraction).
  private val p04 = s"""
    WITH ${dilationCte(40)}
    SELECT site, CAST(count(DISTINCT dil_slot) AS BIGINT) AS n_slots,
      true AS frac_in01, true AS frac_nonneg,
      true AS run_bounded, true AS run_consistent
    FROM dil GROUP BY 1
  """

  // p05: PVPro post-processing composition — day count and the exact
  // integer-micro value sum replayed relationally; the decomposition
  // gated through PAVA's defining property (monotone non-increasing
  // trend ⇒ nonnegative drop), amplitude nonnegativity, and finiteness.
  private val p05 = """
    SELECT user_id AS site,
      CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS value_micro,
      true AS drop_nonneg, true AS amp_nonneg, true AS decomp_finite
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY 1
  """

  // q90: the day-grain Huber sensor-ID face replayed END TO END on
  // the fixed literal fleet (the q80 idiom, but with a FIXED iteration
  // count the IRLS unrolls into plain chained CTEs — no recursion):
  // day moments with the exact integer lifts, literal ntile folds,
  // then the SAME ordered-fold huberChainSql q91 runs on the real
  // fleet — per-fold OLS init + the ε·σ cut, three day-weighted
  // refits, pooled test residuals, total-moment Pearson corr.
  private val q90: String = s"""
    WITH hs_src AS (
      SELECT CAST(d AS INT) AS d, CAST(h AS INT) AS h,
        (d + h) * 0.25 AS x1,
        2.0 * ((d + h) * 0.25) + 1.0 + CASE WHEN d = 2 THEN 20.0 ELSE 0.0 END AS y,
        ((d * h) % 5) * 0.5 AS x2
      FROM range(1, 13) t(d), range(0, 4) u(h)),
    hs_day0 AS (
      SELECT d, count(*) AS n,
        sum(CAST(round(y * 1e6, 0) AS BIGINT)) AS syl,
        sum(CAST(round(y * y * 1e4, 0) AS BIGINT)) AS syyl,
        sum(CAST(round(x1 * 1e6, 0) AS BIGINT)) AS sx1l,
        sum(CAST(round(x1 * x1 * 1e4, 0) AS BIGINT)) AS sxx1l,
        sum(CAST(round(x1 * y * 1e4, 0) AS BIGINT)) AS sxy1l,
        sum(CAST(round(x2 * 1e6, 0) AS BIGINT)) AS sx2l,
        sum(CAST(round(x2 * x2 * 1e4, 0) AS BIGINT)) AS sxx2l,
        sum(CAST(round(x2 * y * 1e4, 0) AS BIGINT)) AS sxy2l
      FROM hs_src GROUP BY 1),
    hs_long AS (
      SELECT d, CASE WHEN d <= 4 THEN 1 WHEN d <= 8 THEN 2 ELSE 3 END AS fold,
        sensor, n, syl, syyl, sxl, sxxl, sxyl
      FROM (
        SELECT d, n, syl, syyl, 's1' AS sensor, sx1l AS sxl, sxx1l AS sxxl, sxy1l AS sxyl FROM hs_day0
        UNION ALL
        SELECT d, n, syl, syyl, 's2', sx2l, sxx2l, sxy2l FROM hs_day0)),
    si_hfold AS (
      SELECT CAST(1 AS BIGINT) AS site, sensor, 'no_errors' AS filter,
        d AS day, fold, n,
        sxl AS sx, syl AS sy, sxxl AS sxx, sxyl AS sxy, syyl AS syy
      FROM hs_long),
    $huberChainSql
  """

  // q91: the Huber face on the REAL fleet — the q84 composition
  // (synthesized sensors → integer-micro day moments → day filters →
  // ntile folds) with the q90 IRLS replayed per (site, sensor,
  // filter, test-fold). Every train/test aggregate is an ORDERED
  // list_reduce over day-sorted struct arrays (the q80 idiom): both
  // engines fold the identical doubles in the identical order, so the
  // gate is bit-deterministic by construction, not by luck.
  private def q91Osum(list: String, expr: String): String =
    s"CASE WHEN len($list) = 0 THEN 0.0 ELSE list_reduce(list_transform($list, d -> $expr), (acc, x) -> acc + x) END"

  private def q91Rss(a: String, b: String): String =
    s"(d.syy + d.n*$a*$a + $b*$b*d.sxx - 2.0*$a*d.sy - 2.0*$b*d.sxy + 2.0*$a*$b*d.sx)"

  private def q91W(a: String, b: String, cut: String): String = {
    val rms = s"sqrt(greatest(${q91Rss(a, b)}, 0.0) / d.n)"
    s"(CASE WHEN $rms <= $cut THEN 1.0 ELSE $cut / $rms END)"
  }

  private def q91Iter(prev: String, out: String): String = {
    val w = q91W("p.a", "p.b", "p.cut")
    val swinT = s"least(sqrt(greatest(${q91Rss("za.a", "zb.b")}, 0.0) / d.n), p.cut)"
    s"""
    $out AS (
      SELECT p.site, p.sensor, p.filter, p.tf, p.tr, p.te, p.n, p.den0,
        zb.b, za.a,
        1.35 * sqrt(greatest(zs.swin / p.n, 1e-12)) AS cut
      FROM $prev p,
      LATERAL (SELECT
        ${q91Osum("p.tr", s"$w * d.n")} AS wn,
        ${q91Osum("p.tr", s"$w * d.sx")} AS wsx,
        ${q91Osum("p.tr", s"$w * d.sy")} AS wsy,
        ${q91Osum("p.tr", s"$w * d.sxx")} AS wsxx,
        ${q91Osum("p.tr", s"$w * d.sxy")} AS wsxy) z,
      LATERAL (SELECT z.wn * z.wsxx - z.wsx * z.wsx AS den) zd,
      LATERAL (SELECT CASE WHEN zd.den > 0 THEN (z.wn * z.wsxy - z.wsx * z.wsy) / zd.den
                           ELSE p.b END AS b) zb,
      LATERAL (SELECT CASE WHEN zd.den > 0 THEN (z.wsy - zb.b * z.wsx) / z.wn
                           ELSE p.a END AS a) za,
      LATERAL (SELECT ${q91Osum("p.tr", s"d.n * $swinT * $swinT")} AS swin) zs)
    """
  }

  // The ordered-fold Huber CV chain over a `si_hfold`-shaped relation
  // (site, sensor, filter, day, fold + INTEGER micro day moments n,
  // sx, sy, sxx, sxy, syy): day-sorted struct arrays, ordered
  // list_reduce folds for the OLS init, every IRLS iteration, and the
  // pooled test stats — both engines fold identical doubles in
  // identical order, so the gate is bit-deterministic by construction.
  // Shared by q91 (real fleet) and q90 (fixed literal fleet; its
  // earlier unordered-SUM replay held only because the 12-day literal
  // was validated bit-equal — a corpus change could have flipped it).
  private def huberChainSql: String = {
    val rss0 = q91Osum("h.tr", s"greatest(${q91Rss("h.a", "h.b")}, 0.0)")
    s"""
    si_htot AS (
      SELECT site, sensor, filter,
        CAST(count(*) AS BIGINT) AS n_days, CAST(sum(n) AS BIGINT) AS tn,
        sum(sx) AS tsx, sum(sy) AS tsy, sum(sxx) AS tsxx,
        sum(sxy) AS tsxy, sum(syy) AS tsyy
      FROM si_hfold GROUP BY 1, 2, 3),
    si_harr AS (
      SELECT site, sensor, filter,
        list(struct_pack(
          fold := fold, n := CAST(n AS DOUBLE),
          sx := CAST(sx AS DOUBLE) / 1e6, sy := CAST(sy AS DOUBLE) / 1e6,
          sxx := CAST(sxx AS DOUBLE) / 1e4, sxy := CAST(sxy AS DOUBLE) / 1e4,
          syy := CAST(syy AS DOUBLE) / 1e4) ORDER BY day) AS ds
      FROM si_hfold GROUP BY 1, 2, 3),
    si_htf AS (
      SELECT site, sensor, filter, tf,
        list_filter(ds, d -> d.fold < tf) AS tr,
        list_filter(ds, d -> d.fold = tf) AS te
      FROM si_harr, (VALUES (2), (3)) f(tf)),
    si_h0 AS (
      SELECT site, sensor, filter, tf, tr, te,
        ${q91Osum("tr", "d.n")} AS n,
        ${q91Osum("tr", "d.sx")} AS sx, ${q91Osum("tr", "d.sy")} AS sy,
        ${q91Osum("tr", "d.sxx")} AS sxx, ${q91Osum("tr", "d.sxy")} AS sxy
      FROM si_htf),
    si_h1 AS (SELECT *, n * sxx - sx * sx AS den0 FROM si_h0),
    si_h2 AS (
      SELECT *, CASE WHEN den0 > 0 THEN (n * sxy - sx * sy) / den0 END AS b
      FROM si_h1),
    si_h3 AS (
      SELECT *, CASE WHEN den0 > 0 THEN (sy - b * sx) / n END AS a
      FROM si_h2),
    si_h4 AS (
      SELECT h.site, h.sensor, h.filter, h.tf, h.tr, h.te, h.n, h.den0, h.b, h.a,
        CASE WHEN h.den0 > 0
             THEN 1.35 * sqrt(greatest(($rss0) / h.n, 1e-12)) END AS cut
      FROM si_h3 h),
    ${q91Iter("si_h4", "si_i1")},
    ${q91Iter("si_i1", "si_i2")},
    ${q91Iter("si_i2", "si_i3")},
    si_pool AS (
      SELECT site, sensor, filter,
        CAST(sum(CASE WHEN len(te) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
        CAST(sum(CASE WHEN len(te) > 0 AND den0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        flatten(list(CASE WHEN len(te) > 0 AND den0 > 0
          THEN list_transform(te, d -> greatest(${q91Rss("i.a", "i.b")}, 0.0))
          ELSE [] END ORDER BY tf)) AS rl,
        flatten(list(CASE WHEN len(te) > 0 AND den0 > 0
          THEN list_transform(te, d -> d.sy - d.n * i.a - i.b * d.sx)
          ELSE [] END ORDER BY tf)) AS sl,
        flatten(list(CASE WHEN len(te) > 0 AND den0 > 0
          THEN list_transform(te, d -> d.n)
          ELSE [] END ORDER BY tf)) AS nl
      FROM si_i3 i GROUP BY 1, 2, 3),
    si_hp AS (
      SELECT site, sensor, filter, n_test, n_good,
        ${q91Osum("rl", "d")} AS pr, ${q91Osum("sl", "d")} AS ps,
        ${q91Osum("nl", "d")} AS pn
      FROM si_pool)
    SELECT t.site, t.sensor, t.filter, t.n_days, t.n_obs,
      CASE WHEN varx > 0.0 AND vary > 0.0
           THEN round(cov / sqrt(varx * vary) * 1000000.0) / 1000000.0 END AS corr,
      CASE WHEN p.n_test > 0 AND p.n_test = p.n_good AND p.pn > 0
           THEN round(sqrt(greatest(p.pr / p.pn, 0.0)) * 1000000.0)
                / 1000000.0 END AS cv_rmse,
      CASE WHEN p.n_test > 0 AND p.n_test = p.n_good AND p.pn > 0
           THEN round(p.ps / p.pn * 1000000.0) / 1000000.0 END AS cv_mbe
    FROM si_hp p
    JOIN (
      SELECT site, sensor, filter, n_days, tn AS n_obs,
        tn * (CAST(tsxx AS DOUBLE) / 1e4)
          - (CAST(tsx AS DOUBLE) / 1e6) * (CAST(tsx AS DOUBLE) / 1e6) AS varx,
        tn * (CAST(tsyy AS DOUBLE) / 1e4)
          - (CAST(tsy AS DOUBLE) / 1e6) * (CAST(tsy AS DOUBLE) / 1e6) AS vary,
        tn * (CAST(tsxy AS DOUBLE) / 1e4)
          - (CAST(tsx AS DOUBLE) / 1e6) * (CAST(tsy AS DOUBLE) / 1e6) AS cov
      FROM si_htot) t
    ON t.site = p.site AND t.sensor = p.sensor AND t.filter = p.filter
  """
  }

  private val q91: String = s"""
    WITH $clearFlagsCte,
    $sensorIdBaseCte,
    si_hfold AS (
      SELECT *, ntile(3) OVER (PARTITION BY site, sensor, filter ORDER BY day) AS fold
      FROM si_filt),
    $huberChainSql
  """

  // q92: the heatmap plot table — the q50 filled grid reshaped to the
  // tidy (site, day, day_index, slot, raw, filled) cell grain, both
  // matrices on the engine-portable micro grid (scale-0 product round).
  private val q92: String = s"""
    WITH $filledGridCte,
    hm0 AS (SELECT user_id AS site, day, slot, raw, filled FROM fg_filled),
    hmd AS (SELECT site, min(day) AS d0 FROM hm0 GROUP BY 1)
    SELECT h.site, CAST(h.day AS VARCHAR) AS day,
      date_diff('day', m.d0, h.day) AS day_index, h.slot,
      round(h.raw * 1000000.0) / 1000000.0 AS raw,
      round(h.filled * 1000000.0) / 1000000.0 AS filled
    FROM hm0 h JOIN hmd m ON h.site = m.site
  """

  // The latitude sweep's 12 config branches (shared by q61 raw and
  // q64 filled): per-day Duffie latitude inversion under both
  // declination series, config-filtered medians (FILTER ≡ Spark's
  // percentile-over-when, both skip nulls ≡ nanmedian).
  // The per-day estimate is lifted to 6-dp INTEGER MICROS before the
  // median: the inversion runs through libm transcendentals whose last
  // ulp differs across engine builds, and an even day count makes
  // quantile_cont interpolate the midpoint of two such doubles. On
  // sub-2^52 BIGINTs the midpoint (a+b)/2 is IEEE-exact under every
  // interpolation formula, so median-of-micros / 1e6 is bit-determined
  // by the inputs alone — no trailing decimal round, hence no half-way
  // rounding boundary (the round-9 driver-only q64 hash flake channel).
  private def latStudyBranches(table: String, matrix: String): String = {
    val cooper =
      "(23.45 * sin(6.283185307179586 * (doy + 284.0) / 365.0))"
    val spencerB = "(6.283185307179586 * (doy - 1.0) / 365.0)"
    val spencer =
      s"""(57.29577951308232 * (0.006918
         - 0.399912 * cos($spencerB) + 0.070257 * sin($spencerB)
         - 0.006758 * cos(2.0 * $spencerB) + 0.000907 * sin(2.0 * $spencerB)
         - 0.002697 * cos(3.0 * $spencerB) + 0.00148 * sin(3.0 * $spencerB)))"""
    def lat(dl: String, delta: String) =
      s"atan(-cos(7.5 * $dl * 0.017453292519943295) / tan($delta * 0.017453292519943295)) * 57.29577951308232"
    val variants = Seq(
      ("sunrise-sunset", "cooper", lat("dl_ss", cooper)),
      ("sunrise-sunset", "spencer", lat("dl_ss", spencer)),
      ("raw-daylight", "cooper", lat("dl_raw", cooper)),
      ("raw-daylight", "spencer", lat("dl_raw", spencer)))
    val sels = Seq(("all", "TRUE"), ("clear", "clear"), ("cloudy", "NOT clear"))
    variants.flatMap { case (dlName, dName, expr) =>
      sels.map { case (sName, sPred) =>
        s"""      SELECT site, '$matrix' AS data_matrix, '$dlName' AS daylight_method,
          '$dName' AS delta_method, '$sName' AS day_selection,
          quantile_cont(CAST(round(($expr) * 1000000.0, 0) AS BIGINT), 0.5)
            FILTER (WHERE $sPred) / 1000000.0 AS latitude,
          count($expr) FILTER (WHERE $sPred) AS n_days
        FROM $table GROUP BY 1"""
      }
    }.mkString("\n      UNION ALL\n")
  }

  private val q61: String = s"""
    WITH $studyDayCte
    ${latStudyBranches("sw_day", "raw")}
    """

  // q64: the latitude study's FILLED-matrix slice — the q50 filled
  // grid replay feeds the same scaling/day-grain/inversion machinery
  // as q61, with the grid pitch (0.5 h) as the sampling frequency.
  // Gates the study's data_matrix axis end to end.
  // The filled matrix at study day grain (shared by q64 and q65, and
  // by the q88/q89 stage gates): the q50 grid replay re-expressed on
  // the same scaling / boundary / CoM rules as the raw studyDayCte,
  // with the grid pitch (0.5 h) as the sampling frequency. Terminal
  // CTE: f_day0(site, day, doy, sr, ss, dl_ss, dl_raw, noon_com,
  // noon_rs) — flag-free so the stage gates don't price the clear-day
  // chain. Assumes fg_filled precedes it in the WITH chain.
  private val filledDayCoreCte = """
    f_rows AS (
      SELECT user_id AS site, day, slot * 1800.0 AS sec, filled AS v
      FROM fg_filled),
    f_scale AS (
      SELECT site, round(quantile_cont(v, 0.99) * 1000000.0) / 1000000.0 AS hi99,
        round(greatest(min(v), -0.005 * quantile_cont(v, 0.99)) * 1000000.0)
          / 1000000.0 AS lo99,
        round(quantile_cont(v, 0.95) * 1000000.0) / 1000000.0 AS p95,
        round(greatest(quantile_cont(v, 0.05), 0) * 1000000.0) / 1000000.0 AS bot
      FROM f_rows GROUP BY 1),
    f_base AS (
      SELECT r.site, r.day, r.sec, r.sec / 3600.0 AS h, r.v,
        CASE WHEN s.hi99 <> 0
          THEN CAST(round((r.v - s.lo99) / s.hi99 * 1000000.0, 0) AS BIGINT) END AS sc_d,
        CASE WHEN s.p95 <> s.bot
          THEN CAST(round((r.v - s.bot) / (s.p95 - s.bot) * 1000000.0, 0) AS BIGINT) END AS sc_r
      FROM f_rows r JOIN f_scale s ON r.site = s.site),
    f_dd AS (
      SELECT site, day,
        min(CASE WHEN sc_d > 1000 THEN h END) AS sr,
        max(CASE WHEN sc_d > 1000 THEN h END) AS ss,
        min(CASE WHEN sc_d > 10000 THEN h END) AS sr01,
        max(CASE WHEN sc_d > 10000 THEN h END) AS ss01,
        min(h) AS h_first, max(h) AS h_last,
        sum(CASE WHEN sc_r >= 1000 THEN 1 ELSE 0 END) AS n_daytime,
        sum(CAST(sec AS BIGINT) * CAST(round(v * 1000000.0) AS BIGINT)) AS num_c,
        sum(CAST(round(v * 1000000.0) AS BIGINT)) AS sum_c
      FROM f_base GROUP BY 1, 2),
    f_day0 AS (
      SELECT d.site, d.day, dayofyear(d.day) AS doy, d.sr, d.ss,
        CASE WHEN d.sr = d.h_first OR d.ss = d.h_last THEN NULL
             ELSE d.ss - d.sr END AS dl_ss,
        d.n_daytime * 0.5 AS dl_raw,
        CASE WHEN d.sum_c <> 0
             THEN (d.num_c / 3600.0) / d.sum_c END AS noon_com,
        CASE WHEN d.sr01 = d.h_first OR d.ss01 = d.h_last THEN NULL
             ELSE (d.sr01 + d.ss01) / 2.0 END AS noon_rs
      FROM f_dd d)
  """

  // filledDayCoreCte + the clear-flag join (assumes cd_flags precedes
  // it in the WITH chain). Terminal CTE: f_day.
  private val filledDayCte = s"""
    $filledDayCoreCte,
    f_day AS (
      SELECT d.*, coalesce(c.clear, false) AS clear
      FROM f_day0 d LEFT JOIN cd_flags c ON d.site = c.site AND d.day = c.day)
  """

  private val q64: String = s"""
    WITH $clearFlagsCte,
    $filledGridCte,
    $filledDayCte
    ${latStudyBranches("f_day", "filled")}
    """

  // q88/q89: STAGE GATES of the q64 chain (the flake-diagnosability
  // split — a driver q64 failure should name its stage). Stage 1 is
  // q50's fg_filled grid; q88 gates stage 2 (the filled-branch
  // detect_sun / find_daytime scale percentiles); q89 gates stage 3
  // (the flag-free day grain: integer-micro threshold crossings,
  // boundary-null daylight, CoM / rise-set noon); q64 itself remains
  // stage 4 (flags + config medians).
  private val q88: String = s"""
    WITH $filledGridCte,
    $filledDayCoreCte
    SELECT site, 'filled' AS data_matrix, hi99, lo99, p95, bot
    FROM f_scale
    """

  // publications via the scale-0 product quantizer, not round(x, 6)
  // (engine-portable — see sw_scale)
  private val q89: String = s"""
    WITH $filledGridCte,
    $filledDayCoreCte
    SELECT site, CAST(day AS VARCHAR) AS day, doy,
      round(sr * 1000000.0) / 1000000.0 AS sr,
      round(ss * 1000000.0) / 1000000.0 AS ss,
      round(dl_ss * 1000000.0) / 1000000.0 AS dl_ss,
      round(dl_raw * 1000000.0) / 1000000.0 AS dl_raw,
      round(noon_com * 1000000.0) / 1000000.0 AS noon_com,
      round(noon_rs * 1000000.0) / 1000000.0 AS noon_rs
    FROM f_day0
    """

  // The longitude sweep's 36 config branches (shared by q62 raw and
  // q65 filled) — Duffie eq. 1.5.2 per day under both equation-of-time
  // series and both solar-noon methods.
  private def lonStudyBranches(table: String, matrix: String): String = {
    val duffieB = "(6.283185307179586 * (doy - 1.0) / 365.0)"
    val duffie =
      s"""(229.1831180523293 * (0.000075
         + 0.001868 * cos($duffieB) - 0.032077 * sin($duffieB)
         - 0.014615 * cos(2.0 * $duffieB) - 0.04089 * sin(2.0 * $duffieB)))"""
    val daRosaB = "(6.283185307179586 * (doy - 81.0) / 365.0)"
    val daRosa =
      s"(9.87 * sin(2.0 * $daRosaB) - 7.53 * cos($daRosaB) - 1.5 * sin($daRosaB))"
    // fully parenthesized: this expression is interpolated into
    // arithmetic contexts (e.g. `round($expr * 1e6, 0)`) where a bare
    // trailing `+ 0.0` would re-associate
    def lon(noon: String, eot: String) =
      s"((720.0 - 60.0 * $noon - $eot) / 4.0 + 0.0)"
    val variants = Seq(
      ("energy_com", "duffie", lon("noon_com", duffie)),
      ("energy_com", "da_rosa", lon("noon_com", daRosa)),
      ("rise_set_average", "duffie", lon("noon_rs", duffie)),
      ("rise_set_average", "da_rosa", lon("noon_rs", daRosa)))
    val sels = Seq(("all", "TRUE"), ("clear", "clear"), ("cloudy", "NOT clear"))
    // estimator axis closed forms (fitting.py residuals are linear in
    // lon): calculated / fit_l1 = median over 6-dp INTEGER MICROS
    // (even-count midpoints of sub-2^52 BIGINTs are IEEE-exact — see
    // latStudyBranches); fit_l2 = mean via EXACT integer-micro sums.
    // No trailing decimal round on either: the published double is
    // bit-determined by the integer aggregates and two IEEE divisions.
    variants.flatMap { case (nName, eName, expr) =>
      sels.flatMap { case (sName, sPred) =>
        val med = s"""(quantile_cont(CAST(round(($expr) * 1e6, 0) AS BIGINT), 0.5)
            FILTER (WHERE $sPred) / 1e6)"""
        val mean = s"""(CAST(sum(CAST(round(($expr) * 1e6, 0) AS BIGINT))
            FILTER (WHERE $sPred) AS DOUBLE) / 1e6
            / (count($expr) FILTER (WHERE $sPred)))"""
        Seq(("calculated", med), ("fit_l1", med), ("fit_l2", mean)).map { case (est, v) =>
          s"""      SELECT site, '$matrix' AS data_matrix, '$nName' AS solar_noon_method,
            '$eName' AS eot_calculation, '$sName' AS day_selection,
            '$est' AS estimator,
            $v AS longitude,
            count($expr) FILTER (WHERE $sPred) AS n_days
          FROM $table GROUP BY 1"""
        }
      }
    }.mkString("\n      UNION ALL\n")
  }

  private val q62: String = s"""
    WITH $studyDayCte
    ${lonStudyBranches("sw_day", "raw")}
    """

  // q99: the fleet batch-estimation face (FleetEstimation.longitude —
  // the reference's scripts glue) replayed end to end: the q62 study
  // branches + a site-derived metadata dim (gmt offset and real
  // longitude as deterministic functions of the site id, identical
  // arithmetic on both engines), the resume anti-join (site % 7 = 3
  // "already checked"), the ADDITIVE per-site gmt shift (+15·gmt on
  // the bit-determined branch longitude — exact-integer shift, so the
  // sum is bit-identical cross-engine), residual = real − estimate
  // (the reference's sign, longitude_study.py:218), and the per-site
  // passes window over the left-joined site list (the failsafe
  // placeholder row for estimate-less sites).
  private val q99: String = s"""
    WITH $studyDayCte,
    lon_est AS (
      ${lonStudyBranches("sw_day", "raw")}
    ),
    fleet_sites AS (
      SELECT DISTINCT user_id AS site FROM events WHERE user_id % 7 <> 3),
    fleet_meta AS (
      SELECT site, CAST(site % 5 - 8 AS DOUBLE) AS gmt_offset,
        -125.0 + CAST(site % 50 AS DOUBLE) AS real_longitude
      FROM fleet_sites)
    SELECT s.site, e.data_matrix, e.solar_noon_method, e.eot_calculation,
      e.day_selection, e.estimator,
      e.longitude + 15.0 * m.gmt_offset AS longitude,
      m.real_longitude - (e.longitude + 15.0 * m.gmt_offset) AS residual,
      e.n_days,
      max(CASE WHEN e.longitude IS NOT NULL THEN 1 ELSE 0 END)
        OVER (PARTITION BY s.site) = 1 AS passes_estimation
    FROM fleet_sites s
    LEFT JOIN lon_est e ON s.site = e.site
    JOIN fleet_meta m ON s.site = m.site
    """

  // q65: the longitude study's FILLED-matrix slice — the shared
  // filled-grid/day-grain replay (q50 → f_day) under the q62 config
  // branches, gating the study's data_matrix axis end to end
  // including the CoM / rise-set solar-noon columns on the grid.
  private val q65: String = s"""
    WITH $clearFlagsCte,
    $filledGridCte,
    $filledDayCte
    ${lonStudyBranches("f_day", "filled")}
    """

  /** q55: the sunrise/sunset optimizer's threshold-grid stage.
    * Generated over the same `np.logspace(-5, -1, 21)` grid the Spark
    * operator uses; the CASE guards replay `rise_set_rough`'s
    * argmax-0/argmax-last boundary rule against the day's first/last
    * observed sample.
    */
  private val q55: String = {
    val ths = graft.analyses.SunriseSunset.thresholdGrid(21)
    val aggs = ths.zipWithIndex.map { case (th, k) =>
      s"      min(CASE WHEN scaled > $th THEN h END) AS sr$k,\n" +
        s"      max(CASE WHEN scaled > $th THEN h END) AS ss$k"
    }.mkString(",\n")
    val branches = ths.indices.map { k =>
      s"  SELECT user_id, CAST(day AS VARCHAR) AS day, CAST($k AS INT) AS th_idx,\n" +
        s"    round(CASE WHEN sr$k = h_first THEN NULL ELSE sr$k END, 6) AS sunrise_h,\n" +
        s"    round(CASE WHEN ss$k = h_last THEN NULL ELSE ss$k END, 6) AS sunset_h\n" +
        s"  FROM daily"
    }.mkString("\n  UNION ALL\n")
    s"""
    WITH scale AS (
      SELECT user_id, quantile_cont(value, 0.99) AS hi,
        greatest(min(value), -0.005 * quantile_cont(value, 0.99)) AS lo
      FROM events GROUP BY 1),
    base AS (
      SELECT e.user_id, CAST(e.ts AS DATE) AS day,
        date_diff('second', date_trunc('day', e.ts), e.ts) / 3600.0 AS h,
        round((e.value - s.lo) / s.hi, 6) AS scaled
      FROM events e JOIN scale s ON e.user_id = s.user_id),
    daily AS (
      SELECT user_id, day, min(h) AS h_first, max(h) AS h_last,
$aggs
      FROM base GROUP BY 1, 2)
$branches
  """
  }

  /** q56: undilate replay. Mirrors Dilation.undilate's expression
    * tree exactly — dg = span/16, dh = span/8, g0 = rise + slot·dg,
    * g1 = rise + (slot+1)·dg, a = rise + k·dh, b = rise + (k+1)·dh
    * (every edge a DIRECT product, round 13 — matching the operator's
    * sliver-free formulation), Σ dv·(min(b,g1) − max(a,g0)) over
    * positive overlaps, ÷ dh. Power-of-2 grids make dh = 2·dg exact
    * and every out slot exactly two bins wide, so both engines
    * compute bit-identical doubles.
    */
  private val q56 = """
    WITH m AS (SELECT user_id, max(value) AS site_max FROM events GROUP BY 1),
    e AS (
      SELECT user_id AS site, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        date_diff('second', date_trunc('day', ts), ts) / 3600.0 AS h,
        value, CAST(round(value * 100) AS BIGINT) AS vc
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
    rs AS (
      SELECT e.site, e.day, min(e.h) AS rise_h, max(e.h) AS set_h
      FROM e JOIN m ON e.site = m.user_id
      WHERE e.value > m.site_max * 0.01
      GROUP BY 1, 2 HAVING max(e.h) > min(e.h)),
    binned AS (
      SELECT e.site, e.day,
        CAST(least(floor((e.h - r.rise_h) / ((r.set_h - r.rise_h) / 16.0)), 15) AS INT) AS dil_slot,
        sum(e.vc) AS sv
      FROM e JOIN rs r ON e.site = r.site AND e.day = r.day
      WHERE e.h >= r.rise_h AND e.h < r.set_h
      GROUP BY 1, 2, 3),
    grid AS (
      SELECT r.site, r.day, r.rise_h, r.set_h, CAST(s.i AS INT) AS dil_slot,
        CAST(coalesce(b.sv, 0) AS DOUBLE) AS dv
      FROM rs r
      CROSS JOIN (SELECT unnest(range(16)) AS i) s
      LEFT JOIN binned b ON b.site = r.site AND b.day = r.day AND b.dil_slot = s.i),
    terms AS (
      SELECT g.site, g.day, CAST(k.k AS INT) AS out_slot,
        (g.set_h - g.rise_h) / 8.0 AS dh,
        least(g.rise_h + (k.k + 1) * ((g.set_h - g.rise_h) / 8.0),
              g.rise_h + (g.dil_slot + 1) * ((g.set_h - g.rise_h) / 16.0)) AS hi,
        greatest(g.rise_h + k.k * ((g.set_h - g.rise_h) / 8.0),
                 g.rise_h + g.dil_slot * ((g.set_h - g.rise_h) / 16.0)) AS lo,
        g.dv
      FROM grid g CROSS JOIN (SELECT unnest(range(8)) AS k) k)
    SELECT site, day, out_slot,
      round(sum(CASE WHEN hi > lo THEN dv * (hi - lo) ELSE 0 END) / any_value(dh), 6) AS value
    FROM terms GROUP BY 1, 2, 3
  """

  /** q57: fixed-basis shade projection replay (Shade.projectOnBasis /
    * projectRows). Integer-valued profiles × integer basis keep every
    * coefficient and reconstruction exact; only the final shade
    * fraction divides, with identical operands on both engines.
    */
  private val q57 = """
    WITH prof AS (
      SELECT user_id AS site,
        CAST(floor(date_diff('second', date_trunc('day', ts), ts) / 3600.0) AS INT) AS dil_slot,
        CAST(CAST(round(quantile_cont(value, 0.5) * 1000) AS BIGINT) AS DOUBLE) AS pm
      FROM events GROUP BY 1, 2),
    mx AS (SELECT site, max(dil_slot) AS mslot FROM prof GROUP BY 1),
    grid AS (
      SELECT m.site, CAST(s.i AS INT) AS dil_slot, coalesce(p.pm, 0) AS pm
      FROM mx m
      CROSS JOIN LATERAL (SELECT unnest(range(m.mslot + 1)) AS i) s
      LEFT JOIN prof p ON p.site = m.site AND p.dil_slot = s.i),
    basis AS (
      SELECT CAST(i AS INT) AS dil_slot, CAST(1.0 AS DOUBLE) AS v0,
        CAST(CASE WHEN i < 12 THEN 1.0 ELSE -1.0 END AS DOUBLE) AS v1
      FROM range(0, 24) t(i)),
    coefs AS (
      SELECT g.site, sum(g.pm * b.v0) AS c0, sum(g.pm * b.v1) AS c1
      FROM grid g JOIN basis b ON g.dil_slot = b.dil_slot GROUP BY 1),
    proj AS (
      SELECT g.site, g.dil_slot, g.pm, c.c0 * b.v0 + c.c1 * b.v1 AS recon
      FROM grid g
      JOIN basis b ON g.dil_slot = b.dil_slot
      JOIN coefs c ON c.site = g.site)
    SELECT site, dil_slot, pm AS med_v, recon AS recon_v,
      round(CASE WHEN recon > 1e-9 THEN greatest(0.0, 1 - pm / recon) ELSE 0 END, 6) AS shade_frac,
      (CASE WHEN recon > 1e-9 THEN greatest(0.0, 1 - pm / recon) ELSE 0 END) > 0.25 AS shaded
    FROM proj
  """

  /** e18/e19/e20: the trained-ANN property gates. The oracle derives
    * the exact cosine top-3 baseline independently (e01's arithmetic)
    * and asserts the property columns' known-true values; the Spark
    * side computes them FROM the trained search result, so a failed
    * recall floor / row-count / self-match invariant breaks the hash.
    * The trained result itself is irreducibly iterative and not
    * SQL-replayable — this is the predicate gate the driver's
    * hash-compare can still verify.
    */
  private val annRecallGate = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    n AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
          FROM (SELECT vec_id, UNNEST(embedding) AS x FROM e) u GROUP BY vec_id),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        sum(CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)
            * CAST(c.embedding[CAST(i AS INT)] AS DOUBLE)) AS dot
      FROM e q CROSS JOIN e c CROSS JOIN range(1, 65) AS t(i)
      WHERE q.vec_id < 16 AND c.vec_id <> q.vec_id
      GROUP BY 1, 2),
    s AS (
      SELECT d.query_id, d.neighbor_id, round(d.dot / (nq.nrm * nc.nrm), 5) AS cosine
      FROM dots d
      JOIN n nq ON d.query_id = nq.vec_id
      JOIN n nc ON d.neighbor_id = nc.vec_id),
    top3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS rk
        FROM s) t
      WHERE rk <= 3)
    SELECT query_id,
      string_agg(CAST(neighbor_id AS VARCHAR), ',' ORDER BY neighbor_id) AS exact_top3,
      true AS k_rows_returned, true AS no_self_match, true AS fleet_recall_ok
    FROM top3 GROUP BY query_id
  """

  /** q58: the extra-matrix quality audit replay (find_daytime p5/p95
    * scaling, 6-dp boundary rounding, JSON extra column).
    */
  private val q58 = """
    WITH scale AS (
      SELECT user_id, greatest(quantile_cont(value, 0.05), 0) AS lo,
        quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY 1),
    d AS (
      SELECT e.user_id, CAST(CAST(e.ts AS DATE) AS VARCHAR) AS day,
        CAST(json_extract(e.props, '$.k') AS DOUBLE) AS extra
      FROM events e JOIN scale s ON e.user_id = s.user_id
      WHERE CASE WHEN s.p95 - s.lo = 0 THEN NULL
                 ELSE round((e.value - s.lo) / (s.p95 - s.lo), 6) END >= 0.01)
    SELECT user_id, day, count(*) AS n_daytime,
      count(extra) AS n_extra_daytime,
      round(CAST(sum(extra) AS DOUBLE), 2) AS extra_sum,
      round(count(extra) / CAST(count(*) AS DOUBLE), 6) AS extra_quality
    FROM d GROUP BY 1, 2
  """

  /** q59: PAVA replay via the isotonic minimax identity. y values are
    * exact integer-valued doubles (centi-value day sums), interval
    * means are single exact-sum divisions, and the minimax pick IS
    * one of those means — so the only cross-engine float surface is
    * PAVA's own pooled-mean accumulation, absorbed by 4-dp rounding.
    */
  private val q59 = """
    WITH e AS (
      SELECT user_id AS site, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2),
    idx AS (
      SELECT site, day, y,
        row_number() OVER (PARTITION BY site ORDER BY day) AS i
      FROM e),
    iv AS (
      SELECT k.site, k.i AS k, j.i AS j,
        sum(z.y) / (j.i - k.i + 1) AS m
      FROM idx k
      JOIN idx j ON j.site = k.site AND j.i >= k.i
      JOIN idx z ON z.site = k.site AND z.i >= k.i AND z.i <= j.i
      GROUP BY 1, 2, 3),
    inn AS (
      SELECT iv.site, ix.i, iv.k, max(iv.m) AS mx
      FROM iv
      JOIN idx ix ON iv.site = ix.site AND iv.k <= ix.i AND iv.j >= ix.i
      GROUP BY 1, 2, 3),
    fit AS (SELECT site, i, min(mx) AS iso FROM inn GROUP BY 1, 2)
    SELECT x.site, x.day, x.y, round(f.iso, 4) AS iso
    FROM fit f JOIN idx x ON f.site = x.site AND f.i = x.i
  """

  private val q53 = """
    WITH prof AS (
      SELECT user_id AS site,
        CAST(floor(date_diff('second', date_trunc('day', ts), ts) / 3600.0) AS INT) AS slot,
        CAST(round(quantile_cont(value, 0.5) * 1000) AS BIGINT) AS pm
      FROM events GROUP BY 1, 2)
    SELECT a.slot AS i, b.slot AS j,
      CAST(sum(a.pm * b.pm) AS BIGINT) AS g_m6,
      count(*) AS n_sites
    FROM prof a JOIN prof b ON a.site = b.site
    GROUP BY 1, 2
  """

  private val d01 = s"""
    SELECT source, count(*) AS n_docs,
      count(DISTINCT $fp) AS n_distinct,
      count(*) - count(DISTINCT $fp) AS n_dup_docs
    FROM documents GROUP BY 1
  """

  private val d02 = """
    SELECT md5(substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 40)) AS fp,
      min(doc_id) AS keep_id, count(*) AS group_n
    FROM documents GROUP BY 1 HAVING count(*) > 1
  """

  private val tokCount =
    """CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END"""

  private val d03 = s"""
    SELECT doc_id,
      CAST($tokCount AS BIGINT) AS n_tokens,
      CAST(len(text) AS BIGINT) AS n_chars_m,
      round(CAST(len(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
            / CAST(greatest($tokCount, 1) AS DOUBLE), 4) AS mean_tok_len,
      CAST($tokCount AS BIGINT) + CAST(floor(len(text) / 16.0) AS BIGINT) AS approx_bpe
    FROM documents
  """

  private val stopList =
    "['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by']"

  private val stopRatio =
    s"""CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         t -> list_contains($stopList, t))) AS DOUBLE)
       / CAST(greatest(len(regexp_split_to_array(lower(trim(text)), '\\s+')), 1) AS DOUBLE)"""

  private val punctRatio =
    """CAST(len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
       / CAST(greatest(len(text), 1) AS DOUBLE)"""

  private val upperRatio =
    """CAST(len(text) - len(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
       / CAST(greatest(len(text), 1) AS DOUBLE)"""

  private val d04 = s"""
    SELECT doc_id,
      round(($punctRatio) * 1000000.0) / 1000000.0 AS punct_ratio,
      round(($stopRatio) * 1000000.0) / 1000000.0 AS stop_ratio,
      round(($upperRatio) * 1000000.0) / 1000000.0 AS upper_ratio,
      round((least(CAST(len(text) AS DOUBLE) / 200.0, 1.0)
             + greatest(0.0, 1.0 - ($punctRatio) * 10.0)
             + least(($stopRatio) * 4.0, 1.0)) / 3.0 * 1000000.0)
        / 1000000.0 AS quality
    FROM documents
  """

  private val d05 = s"""
    WITH p AS (
      SELECT source, lang,
        CASE WHEN ($stopRatio) >= 0.05 THEN 'en' ELSE 'unknown' END AS pred
      FROM documents)
    SELECT source, count(*) AS n_docs,
      CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en,
      round(avg(CASE WHEN pred = lang THEN 1.0 ELSE 0.0 END), 6) AS acc
    FROM p GROUP BY 1
  """

  private def shinglesCte(bound: Int) = s"""
    d AS (SELECT doc_id, text FROM documents WHERE doc_id < $bound),
    sh AS (SELECT DISTINCT doc_id, substring(text, CAST(g AS INT), 3) AS shingle
           FROM d, UNNEST(range(1, greatest(len(text) - 2, 1) + 1)) AS t(g)),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jac AS (
      SELECT p.a_id, p.b_id, p.inter, sa.sz AS na, sb.sz AS nb,
        CAST(p.inter AS DOUBLE) / CAST(sa.sz + sb.sz - p.inter AS DOUBLE) AS jaccard
      FROM pairs p
      JOIN sz sa ON p.a_id = sa.doc_id
      JOIN sz sb ON p.b_id = sb.doc_id)
  """

  private val d06 = s"""
    WITH ${shinglesCte(120)}
    SELECT a_id, b_id, inter, na, nb, round(jaccard, 6) AS jacc
    FROM jac WHERE jaccard >= 0.5
  """

  private val d07 = s"""
    WITH ${shinglesCte(150)},
    hh AS (SELECT doc_id,
             CAST('0x' || substring(md5(shingle), 1, 12) AS BIGINT) % 2147483647 AS h31
           FROM sh),
    sig AS (
      SELECT doc_id, j,
        min((((1103515245 * (j + 1)) % 2147483647) * h31
             + ((69069 * (j + 1) + 12345) % 2147483647)) % 2147483647) AS mh
      FROM hh CROSS JOIN range(0, 32) AS t(j)
      GROUP BY 1, 2),
    bands AS (
      SELECT doc_id, CAST(floor(j / 4.0) AS INT) AS band,
        md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS band_sig
      FROM sig GROUP BY 1, 2),
    cands AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)
    SELECT c.a_id, c.b_id, round(j.jaccard, 6) AS jacc
    FROM cands c JOIN jac j ON c.a_id = j.a_id AND c.b_id = j.b_id
    WHERE j.jaccard >= 0.4
  """

  private val d10 = s"""
    WITH ${shinglesCte(120)},
    hh AS (SELECT doc_id,
             CAST('0x' || substring(md5(shingle), 1, 12) AS BIGINT) % 2147483647 AS h31
           FROM sh),
    sig AS (
      SELECT doc_id, j,
        min((((1103515245 * (j + 1)) % 2147483647) * h31
             + ((69069 * (j + 1) + 12345) % 2147483647)) % 2147483647) AS mh
      FROM hh CROSS JOIN range(0, 64) AS t(j)
      GROUP BY 1, 2),
    ex AS (SELECT a_id, b_id, round(jaccard, 6) AS jacc FROM jac WHERE jaccard >= 0.3),
    ag AS (
      SELECT e.a_id, e.b_id, sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 64.0 AS est
      FROM ex e
      JOIN sig sa ON sa.doc_id = e.a_id
      JOIN sig sb ON sb.doc_id = e.b_id AND sb.j = sa.j
      GROUP BY 1, 2)
    SELECT e.a_id, e.b_id, e.jacc, a.est, round(abs(a.est - e.jacc), 6) AS abs_err
    FROM ex e JOIN ag a ON e.a_id = a.a_id AND e.b_id = a.b_id
  """

  // Robust winnowing (k=5, w=4): 44-bit md5-prefix k-gram hashes and
  // rightmost-argmin via the packed integer key h*2^16 + (65535-pos),
  // exactly the arithmetic of Dedup.winnowFingerprints — integer-only,
  // so the selection is bit-identical across engines.
  private val d11 = """
    WITH d AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS norm
      FROM documents WHERE doc_id < 150),
    sized AS (
      SELECT doc_id, norm, least(len(norm) - 4, 65535) AS n
      FROM d WHERE least(len(norm) - 4, 65535) >= 4),
    grams AS (
      SELECT doc_id, n, CAST(g AS INT) AS pos,
        CAST('0x' || substring(md5(substring(norm, CAST(g AS INT), 5)), 1, 11) AS BIGINT)
          * 65536 + (65535 - CAST(g AS BIGINT)) AS key
      FROM sized, UNNEST(range(1, n + 1)) AS t(g)),
    sel AS (
      SELECT doc_id, n, pos,
        min(key) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      FROM grams),
    fp AS (
      SELECT DISTINCT doc_id, wmin // 65536 AS fp_hash
      FROM sel WHERE pos <= n - 3),
    kept AS (
      SELECT doc_id, fp_hash FROM (
        SELECT doc_id, fp_hash, count(*) OVER (PARTITION BY fp_hash) AS df
        FROM fp) WHERE df <= 20),
    sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
      FROM kept a JOIN kept b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.a_id, p.b_id, p.n_shared, sa.sz AS na, sb.sz AS nb,
      round(CAST(p.n_shared AS DOUBLE) / least(sa.sz, sb.sz) * 1000000.0)
        / 1000000.0 AS containment
    FROM pairs p
    JOIN sizes sa ON p.a_id = sa.doc_id
    JOIN sizes sb ON p.b_id = sb.doc_id
    WHERE p.n_shared >= 5
      AND round(CAST(p.n_shared AS DOUBLE) / least(sa.sz, sb.sz), 6) >= 0.2
  """

  // Rolling-hash MinHash+LSH: the shingle hash is the 31-bit
  // polynomial fold ((acc*131 + codepoint) mod 2^31-1) — pure integer
  // arithmetic, the exact recurrence of graft_rolling_hashes — feeding
  // the shared universal-hash family. Distinct-on-string here vs
  // distinct-on-hash in Spark cannot diverge: duplicates never change
  // a min. The estimate k/64 is binary-exact (no float surface).
  private val d12 = s"""
    WITH ${shinglesCte(150)},
    hh AS (SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, len(shingle) + 1),
                   i -> ord(substring(shingle, CAST(i AS INT), 1)))),
               (acc, c) -> (acc * 131 + c) % 2147483647) AS h31
           FROM sh),
    sig AS (
      SELECT doc_id, j,
        min((((1103515245 * (j + 1)) % 2147483647) * h31
             + ((69069 * (j + 1) + 12345) % 2147483647)) % 2147483647) AS mh
      FROM hh CROSS JOIN range(0, 64) AS t(j)
      GROUP BY 1, 2),
    bands AS (
      SELECT doc_id, CAST(floor(j / 4.0) AS INT) AS band,
        md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS band_sig
      FROM sig GROUP BY 1, 2),
    cands AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
    ag AS (
      SELECT c.a_id, c.b_id,
        sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 64.0 AS est
      FROM cands c
      JOIN sig sa ON sa.doc_id = c.a_id
      JOIN sig sb ON sb.doc_id = c.b_id AND sb.j = sa.j
      GROUP BY 1, 2)
    SELECT a_id, b_id, est FROM ag WHERE est >= 0.35
  """

  private val d08 = """
    WITH toks AS (
      SELECT doc_id, tok, count(*) AS cnt FROM (
        SELECT doc_id, UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents) t
      WHERE len(tok) > 0 GROUP BY 1, 2),
    h AS (SELECT doc_id, cnt,
            CAST('0x' || substring(md5(tok), 1, 12) AS BIGINT) AS h
          FROM toks),
    bits AS (
      SELECT doc_id, i,
        sum(cnt * ((CAST(floor(h / power(2.0, i)) AS BIGINT) % 2) * 2 - 1)) AS s
      FROM h CROSS JOIN range(0, 32) AS t(i)
      GROUP BY 1, 2)
    SELECT doc_id,
      CAST(sum(CASE WHEN s > 0 THEN CAST(power(2.0, i) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY 1
  """

  private val d09 = s"""
    WITH RECURSIVE ${shinglesCte(150)},
    hh AS (SELECT doc_id,
             CAST('0x' || substring(md5(shingle), 1, 12) AS BIGINT) % 2147483647 AS h31
           FROM sh),
    sig AS (
      SELECT doc_id, j,
        min((((1103515245 * (j + 1)) % 2147483647) * h31
             + ((69069 * (j + 1) + 12345) % 2147483647)) % 2147483647) AS mh
      FROM hh CROSS JOIN range(0, 16) AS t(j)
      GROUP BY 1, 2),
    bands AS (
      SELECT doc_id, CAST(floor(j / 4.0) AS INT) AS band,
        md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS band_sig
      FROM sig GROUP BY 1, 2),
    bucketmin AS (
      SELECT band, band_sig, min(doc_id) AS a_id
      FROM bands GROUP BY 1, 2),
    star AS (
      SELECT DISTINCT m.a_id, b.doc_id AS b_id
      FROM bands b JOIN bucketmin m ON b.band = m.band AND b.band_sig = m.band_sig
      WHERE b.doc_id <> m.a_id),
    edges AS (
      SELECT a_id, b_id FROM star
      UNION ALL
      SELECT b_id AS a_id, a_id AS b_id FROM star),
    reach(src, dst) AS (
      SELECT doc_id AS src, doc_id AS dst FROM d
      UNION
      SELECT r.src, e.b_id AS dst FROM reach r JOIN edges e ON r.dst = e.a_id),
    labels AS (SELECT src, min(dst) AS component FROM reach GROUP BY 1)
    SELECT component, count(*) AS n_docs
    FROM labels GROUP BY 1 HAVING count(*) > 1
  """

  // d36: d09's component labels (recursive-CTE reachability over the
  // LSH star edges) for EVERY doc in the slice, then the group-grain
  // md5 split — near-dups share a component, so they share a split.
  private val d36 = s"""
    WITH RECURSIVE ${shinglesCte(150)},
    hh AS (SELECT doc_id,
             CAST('0x' || substring(md5(shingle), 1, 12) AS BIGINT) % 2147483647 AS h31
           FROM sh),
    sig AS (
      SELECT doc_id, j,
        min((((1103515245 * (j + 1)) % 2147483647) * h31
             + ((69069 * (j + 1) + 12345) % 2147483647)) % 2147483647) AS mh
      FROM hh CROSS JOIN range(0, 16) AS t(j)
      GROUP BY 1, 2),
    bands AS (
      SELECT doc_id, CAST(floor(j / 4.0) AS INT) AS band,
        md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS band_sig
      FROM sig GROUP BY 1, 2),
    bucketmin AS (
      SELECT band, band_sig, min(doc_id) AS a_id
      FROM bands GROUP BY 1, 2),
    star AS (
      SELECT DISTINCT m.a_id, b.doc_id AS b_id
      FROM bands b JOIN bucketmin m ON b.band = m.band AND b.band_sig = m.band_sig
      WHERE b.doc_id <> m.a_id),
    edges AS (
      SELECT a_id, b_id FROM star
      UNION ALL
      SELECT b_id AS a_id, a_id AS b_id FROM star),
    reach(src, dst) AS (
      SELECT doc_id AS src, doc_id AS dst FROM d
      UNION
      SELECT r.src, e.b_id AS dst FROM reach r JOIN edges e ON r.dst = e.a_id),
    labels AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY 1)
    SELECT doc_id, component,
      CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
    FROM (
      SELECT doc_id, component,
        CAST('0x' || substring(md5('split:' || CAST(component AS VARCHAR)), 1, 4) AS BIGINT) % 100 AS h
      FROM labels) t
  """

  // d38: Count-Min sketch (d=4, w=16) + top-20 heavy-hitter probe
  // with measured overestimate — integer md5 arithmetic end to end.
  private val d38 = s"""
    WITH words AS (
      SELECT w FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents) u
      WHERE length(w) > 0),
    rows_ AS (SELECT unnest(range(4)) AS r),
    cms AS (
      SELECT r, CAST('0x' || substring(md5(w || ':cms:' || CAST(r AS VARCHAR)), 1, 8) AS BIGINT) % 16 AS b,
        count(*) AS c
      FROM words CROSS JOIN rows_ GROUP BY 1, 2),
    exact AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
    top AS (
      SELECT w, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, w ASC) AS INT) AS rk
      FROM exact QUALIFY row_number() OVER (ORDER BY cnt DESC, w ASC) <= 20),
    probes AS (
      SELECT t.rk, t.w, t.cnt, r.r,
        CAST('0x' || substring(md5(t.w || ':cms:' || CAST(r.r AS VARCHAR)), 1, 8) AS BIGINT) % 16 AS b
      FROM top t CROSS JOIN rows_ r)
    SELECT p.rk, p.w AS word, p.cnt AS exact_cnt,
      CAST(min(c.c) AS BIGINT) AS cms_est, CAST(min(c.c) - p.cnt AS BIGINT) AS overest
    FROM probes p JOIN cms c ON p.r = c.r AND p.b = c.b
    GROUP BY 1, 2, 3
  """

  // d39: the bloom probe's exact bit arithmetic replayed — murmur
  // fmix64 as chained CTE steps in mod-2^64 HUGEINT arithmetic
  // (u64 masks to the unsigned domain; mul64 splits the multiplicand
  // to keep the 128-bit intermediate inside HUGEINT), then the
  // double-hashing schedule pos_i = (h + i*(fmix64(h)|1)) mod 1024.
  // A doc hits iff all 5 positions are set by some inserted key.
  private def u64(x: String): String =
    s"(CAST($x AS HUGEINT) & 18446744073709551615)"
  private def mul64(a: String, b: String): String =
    s"((((( ${u64(a)}) >> 32) * ${u64(b)}) & 4294967295) * 4294967296 " +
      s"+ ((( ${u64(a)} & 4294967295) * ${u64(b)}) & 18446744073709551615)) & 18446744073709551615"
  // d40: giant-component guard — d09's reachability labels (ALL
  // components, singletons included) → size histogram + top share.
  private val d40 = s"""
    WITH RECURSIVE ${shinglesCte(150)},
    hh AS (SELECT doc_id,
             CAST('0x' || substring(md5(shingle), 1, 12) AS BIGINT) % 2147483647 AS h31
           FROM sh),
    sig AS (
      SELECT doc_id, j,
        min((((1103515245 * (j + 1)) % 2147483647) * h31
             + ((69069 * (j + 1) + 12345) % 2147483647)) % 2147483647) AS mh
      FROM hh CROSS JOIN range(0, 16) AS t(j)
      GROUP BY 1, 2),
    bands AS (
      SELECT doc_id, CAST(floor(j / 4.0) AS INT) AS band,
        md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS band_sig
      FROM sig GROUP BY 1, 2),
    bucketmin AS (
      SELECT band, band_sig, min(doc_id) AS a_id
      FROM bands GROUP BY 1, 2),
    star AS (
      SELECT DISTINCT m.a_id, b.doc_id AS b_id
      FROM bands b JOIN bucketmin m ON b.band = m.band AND b.band_sig = m.band_sig
      WHERE b.doc_id <> m.a_id),
    edges AS (
      SELECT a_id, b_id FROM star
      UNION ALL
      SELECT b_id AS a_id, a_id AS b_id FROM star),
    reach(src, dst) AS (
      SELECT doc_id AS src, doc_id AS dst FROM d
      UNION
      SELECT r.src, e.b_id AS dst FROM reach r JOIN edges e ON r.dst = e.a_id),
    labels AS (SELECT src, min(dst) AS component FROM reach GROUP BY 1),
    sizes AS (SELECT component, count(*) AS component_size FROM labels GROUP BY 1),
    hist AS (
      SELECT component_size, count(*) AS n_components,
        component_size * count(*) AS n_docs
      FROM sizes GROUP BY 1),
    tot AS (SELECT sum(n_docs) AS total, max(component_size) AS max_sz FROM hist)
    SELECT component_size, n_components, n_docs,
      round(CAST(n_docs AS DOUBLE) / total * 1000000.0) / 1000000.0 AS doc_share,
      round(CAST(max_sz AS DOUBLE) / total * 1000000.0) / 1000000.0 AS top_share
    FROM hist, tot
  """

  private val d39: String = s"""
    WITH base AS (
      SELECT doc_id, doc_id % 2 = 0 AS inserted,
        CAST('0x' || substring($fp, 1, 15) AS BIGINT) AS h
      FROM documents),
    m1 AS (SELECT *, xor(${u64("h")}, ${u64("h")} >> 33) AS t1 FROM base),
    m2 AS (SELECT *, (${mul64("t1", "18397679294719823053")}) AS t2 FROM m1),
    m3 AS (SELECT *, xor(t2, t2 >> 33) AS t3 FROM m2),
    m4 AS (SELECT *, (${mul64("t3", "14181476777654086739")}) AS t4 FROM m3),
    m5 AS (SELECT *, (xor(t4, t4 >> 33) | 1) AS h2 FROM m4),
    pos AS (
      SELECT doc_id, inserted, t.i,
        CAST(((${u64("h")} + ((${u64("t.i")} * h2) & 18446744073709551615)) & 1023) AS BIGINT) AS p
      FROM m5 CROSS JOIN (SELECT unnest(range(5)) AS i) t),
    setbits AS (SELECT DISTINCT p FROM pos WHERE inserted),
    verdict AS (
      SELECT doc_id, inserted, bool_and(p IN (SELECT p FROM setbits)) AS hit
      FROM pos GROUP BY 1, 2)
    SELECT doc_id, inserted, hit, hit AND NOT inserted AS false_pos FROM verdict
  """

  // d37: seed-centroid quality — per-dim means over the src0 seed
  // rounded 6dp (absorbing float summation-order noise), then cosine
  // of every embedding to the centroid at 5dp; keep compares the
  // ROUNDED cosine, like the Spark side.
  private val d37 = """
    WITH ev AS (SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    seed AS (SELECT doc_id FROM documents WHERE source = 'src0'),
    dims AS (SELECT e.doc_id, t.i, v[CAST(t.i AS INT)] AS x
             FROM ev e CROSS JOIN LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) t),
    cent AS (SELECT i, round(avg(x), 6) AS c FROM dims JOIN seed USING (doc_id) GROUP BY i),
    cn AS (SELECT sqrt(sum(c * c)) AS cnorm FROM cent),
    sc AS (
      SELECT d.doc_id, sum(d.x * c.c) AS dot, sqrt(sum(d.x * d.x)) AS vnorm
      FROM dims d JOIN cent c USING (i) GROUP BY d.doc_id)
    SELECT doc_id, round(dot / (vnorm * cnorm), 5) AS cosine,
      round(dot / (vnorm * cnorm), 5) >= 0.1 AS keep
    FROM sc, cn
  """

  private val e06 = """
    WITH base AS (
      SELECT vec_id, embedding,
        CAST(list_min(embedding) AS DOUBLE) AS vmin,
        CAST(list_max(embedding) AS DOUBLE) AS vmax
      FROM embeddings),
    q AS (
      SELECT vec_id, embedding, vmin, (vmax - vmin) / 255.0 AS scale,
        CASE WHEN (vmax - vmin) / 255.0 = 0
             THEN list_transform(embedding, v -> 0)
             ELSE list_transform(embedding, v ->
               CAST(round((CAST(v AS DOUBLE) - vmin) / ((vmax - vmin) / 255.0)) AS INT)) END AS codes
      FROM base),
    e AS (
      SELECT vec_id, len(embedding) AS n_dims, codes,
        list_transform(range(1, len(embedding) + 1), i ->
          CAST(embedding[i] AS DOUBLE) - (vmin + codes[i] * scale)) AS errs
      FROM q)
    SELECT vec_id, n_dims,
      CAST(list_sum(codes) AS BIGINT) AS code_sum,
      round(list_reduce(list_prepend(0.0, list_transform(errs, x -> x * x)), (a, x) -> a + x) / n_dims, 12) AS mse,
      round(list_reduce(list_prepend(0.0, list_transform(errs, x -> abs(x))), (a, x) -> greatest(a, x)), 12) AS max_err
    FROM e
  """

  // Quantized-search recall: dequantization arithmetic mirrors e06;
  // dot products and norms are ORDERED list folds (index order), the
  // same summation order as graft_dot, so the 5-dp cosines and the
  // resulting top-5 sets are engine-independent.
  private val e07 = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    base AS (
      SELECT vec_id, embedding,
        CAST(list_min(embedding) AS DOUBLE) AS vmin,
        (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
      FROM e),
    dq AS (
      SELECT vec_id,
        CASE WHEN scale = 0 THEN list_transform(embedding, v -> vmin)
             ELSE list_transform(embedding, v ->
               vmin + CAST(round((CAST(v AS DOUBLE) - vmin) / scale) AS INT) * scale) END AS emb
      FROM base),
    qf AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
           FROM e WHERE vec_id < 32),
    cf AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM e),
    nf AS (SELECT vec_id, sqrt(list_reduce(list_prepend(0.0,
             list_transform(emb, x -> x * x)), (s, x) -> s + x)) AS nrm FROM cf),
    nq AS (SELECT vec_id, sqrt(list_reduce(list_prepend(0.0,
             list_transform(emb, x -> x * x)), (s, x) -> s + x)) AS nrm FROM dq),
    ex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          round(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i ->
              q.emb[CAST(i AS INT)] * c.emb[CAST(i AS INT)])), (s, x) -> s + x)
            / (a.nrm * b.nrm), 5) AS cosine
        FROM qf q
        JOIN cf c ON c.vec_id <> q.vec_id
        JOIN nf a ON a.vec_id = q.vec_id
        JOIN nf b ON b.vec_id = c.vec_id) s
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id ASC) <= 5),
    qu AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          round(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i ->
              q.emb[CAST(i AS INT)] * c.emb[CAST(i AS INT)])), (s, x) -> s + x)
            / (a.nrm * b.nrm), 5) AS cosine
        FROM qf q
        JOIN dq c ON c.vec_id <> q.vec_id
        JOIN nf a ON a.vec_id = q.vec_id
        JOIN nq b ON b.vec_id = c.vec_id) s
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id ASC) <= 5),
    com AS (
      SELECT ex.query_id, count(*) AS n_common
      FROM ex JOIN qu ON ex.query_id = qu.query_id AND ex.neighbor_id = qu.neighbor_id
      GROUP BY 1)
    SELECT x.query_id,
      x.n_exact, u.n_quant,
      coalesce(c.n_common, 0) AS n_common,
      round(coalesce(c.n_common, 0) / CAST(x.n_exact AS DOUBLE) * 1000000.0)
        / 1000000.0 AS recall
    FROM (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1) x
    JOIN (SELECT query_id, count(*) AS n_quant FROM qu GROUP BY 1) u ON x.query_id = u.query_id
    LEFT JOIN com c ON x.query_id = c.query_id
  """

  private val e05 = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, embedding AS cemb FROM e WHERE vec_id < 8),
    ad AS (
      SELECT v.vec_id, c.centroid_id,
        round(sum((CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE))
                * (CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE))), 4) AS d2
      FROM e v CROSS JOIN c CROSS JOIN range(1, 65) AS t(i)
      GROUP BY 1, 2),
    assign AS (
      SELECT vec_id AS neighbor_id, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC) AS rn
        FROM ad) t
      WHERE rn = 1),
    n AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
          FROM (SELECT vec_id, UNNEST(embedding) AS x FROM e) u GROUP BY vec_id),
    probes AS (
      SELECT vec_id AS query_id, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC) AS rn
        FROM ad WHERE vec_id < 16) t
      WHERE rn <= 2),
    dots AS (
      SELECT p.query_id, m.neighbor_id,
        sum(CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)
            * CAST(v.embedding[CAST(i AS INT)] AS DOUBLE)) AS dot
      FROM probes p
      JOIN assign m ON p.centroid_id = m.centroid_id
      JOIN e q ON q.vec_id = p.query_id
      JOIN e v ON v.vec_id = m.neighbor_id
      CROSS JOIN range(1, 65) AS t(i)
      WHERE m.neighbor_id <> p.query_id
      GROUP BY 1, 2),
    s AS (
      SELECT d.query_id, d.neighbor_id, round(d.dot / (nq.nrm * nc.nrm), 5) AS cosine
      FROM dots d
      JOIN n nq ON d.query_id = nq.vec_id
      JOIN n nc ON d.neighbor_id = nc.vec_id)
    SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rk
      FROM s) t
    WHERE rk <= 3
  """

  private val e01 = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    n AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
          FROM (SELECT vec_id, UNNEST(embedding) AS x FROM e) u GROUP BY vec_id),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        sum(CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)
            * CAST(c.embedding[CAST(i AS INT)] AS DOUBLE)) AS dot
      FROM e q CROSS JOIN e c CROSS JOIN range(1, 65) AS t(i)
      WHERE q.vec_id < 32 AND c.vec_id <> q.vec_id
      GROUP BY 1, 2),
    s AS (
      SELECT d.query_id, d.neighbor_id, round(d.dot / (nq.nrm * nc.nrm), 5) AS cosine
      FROM dots d
      JOIN n nq ON d.query_id = nq.vec_id
      JOIN n nc ON d.neighbor_id = nc.vec_id)
    SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rk
      FROM s) t
    WHERE rk <= 5
  """

  // e15: PQ + ADC with deterministic init codebooks (codeword j of
  // subspace s = the s-th 16-dim slice of the j-th-smallest-vec_id
  // vector — pqTrain at 0 iterations). Assignment argmin mirrors
  // pqAssignCodes exactly: floor(d*1e4 + 0.5)/1e4 then (dr, j) ASC;
  // ADC is round(sum(pd), 4) with (adc_d2, neighbor_id) top-3.
  private val e15 = """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings),
    init AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j, vv
      FROM v QUALIFY row_number() OVER (ORDER BY vec_id) <= 8),
    books AS (
      SELECT CAST(s.s AS INT) AS s, init.j,
             list_slice(vv, CAST(s.s * 16 + 1 AS INT), CAST(s.s * 16 + 16 AS INT)) AS cw
      FROM init CROSS JOIN (SELECT UNNEST(range(4)) AS s) s),
    dall AS (
      SELECT v.vec_id, b.s, b.j,
        floor(sum((vv[CAST(b.s * 16 + t.i AS INT)] - cw[CAST(t.i AS INT)])
                * (vv[CAST(b.s * 16 + t.i AS INT)] - cw[CAST(t.i AS INT)])) * 1e4 + 0.5) / 1e4 AS dr
      FROM v CROSS JOIN books b CROSS JOIN range(1, 17) AS t(i)
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, s, j AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dr ASC, j ASC) AS rn
        FROM dall) t
      WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, vv AS qv FROM v WHERE vec_id < 8),
    lut AS (
      SELECT q.query_id, b.s, b.j AS code,
        sum((qv[CAST(b.s * 16 + t.i AS INT)] - cw[CAST(t.i AS INT)])
          * (qv[CAST(b.s * 16 + t.i AS INT)] - cw[CAST(t.i AS INT)])) AS pd
      FROM q CROSS JOIN books b CROSS JOIN range(1, 17) AS t(i)
      GROUP BY 1, 2, 3),
    adc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, round(sum(pd), 4) AS adc_d2
      FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
      WHERE c.vec_id <> l.query_id
      GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_d2, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2 ASC, neighbor_id ASC) AS rk
      FROM adc) t
    WHERE rk <= 3
  """

  // e22: the COMPOSED IVF-PQ serving path under deterministic model
  // state — e15's init codebooks + e02's centroid-assignment
  // arithmetic as the coarse router (nprobe 2, (pd2, centroid_id)
  // tie-break), ADC confined to routed cells' members. Every stage
  // of the e11 architecture replayed in SQL.
  private val e22 = """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings),
    init AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j, vv
      FROM v QUALIFY row_number() OVER (ORDER BY vec_id) <= 8),
    books AS (
      SELECT CAST(s.s AS INT) AS s, init.j,
             list_slice(vv, CAST(s.s * 16 + 1 AS INT), CAST(s.s * 16 + 16 AS INT)) AS cw
      FROM init CROSS JOIN (SELECT UNNEST(range(4)) AS s) s),
    dall AS (
      SELECT v.vec_id, b.s, b.j,
        floor(sum((vv[CAST(b.s * 16 + t.i AS INT)] - cw[CAST(t.i AS INT)])
                * (vv[CAST(b.s * 16 + t.i AS INT)] - cw[CAST(t.i AS INT)])) * 1e4 + 0.5) / 1e4 AS dr
      FROM v CROSS JOIN books b CROSS JOIN range(1, 17) AS t(i)
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, s, j AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dr ASC, j ASC) AS rn
        FROM dall) t
      WHERE rn = 1),
    cents AS (SELECT vec_id AS centroid_id, vv AS centv FROM v WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
          row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC) AS rn
        FROM (
          SELECT v.vec_id, c.centroid_id,
            round(sum((vv[CAST(t.i AS INT)] - centv[CAST(t.i AS INT)])
                    * (vv[CAST(t.i AS INT)] - centv[CAST(t.i AS INT)])), 4) AS d2
          FROM v CROSS JOIN cents c CROSS JOIN range(1, 65) AS t(i)
          GROUP BY 1, 2) d) t
      WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, vv AS qv FROM v WHERE vec_id < 16),
    probes AS (
      SELECT query_id, centroid_id FROM (
        SELECT query_id, centroid_id,
          row_number() OVER (PARTITION BY query_id ORDER BY pd2 ASC, centroid_id ASC) AS rn
        FROM (
          SELECT q.query_id, c.centroid_id,
            round(sum((qv[CAST(t.i AS INT)] - centv[CAST(t.i AS INT)])
                    * (qv[CAST(t.i AS INT)] - centv[CAST(t.i AS INT)])), 4) AS pd2
          FROM q CROSS JOIN cents c CROSS JOIN range(1, 65) AS t(i)
          GROUP BY 1, 2) d) t
      WHERE rn <= 2),
    lut AS (
      SELECT q.query_id, b.s, b.j AS code,
        sum((qv[CAST(b.s * 16 + t.i AS INT)] - cw[CAST(t.i AS INT)])
          * (qv[CAST(b.s * 16 + t.i AS INT)] - cw[CAST(t.i AS INT)])) AS pd
      FROM q CROSS JOIN books b CROSS JOIN range(1, 17) AS t(i)
      GROUP BY 1, 2, 3),
    adc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, round(sum(pd), 4) AS adc_d2
      FROM codes c
      JOIN assign a ON a.vec_id = c.vec_id
      JOIN probes p ON p.centroid_id = a.centroid_id
      JOIN lut l ON l.query_id = p.query_id AND l.s = c.s AND l.code = c.code
      WHERE c.vec_id <> l.query_id
      GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_d2, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2 ASC, neighbor_id ASC) AS rk
      FROM adc) t
    WHERE rk <= 3
  """

  // e16: e15's ADC machinery widened to a 6-candidate shortlist,
  // then exact float re-rank (sum of squared diffs over the 64 dims,
  // rounded 4dp like the ADC sums) with (exact_d2, neighbor_id)
  // tie-break — the FAISS refine shape, fully replayed.
  private val e16 = """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings),
    init AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j, vv
      FROM v QUALIFY row_number() OVER (ORDER BY vec_id) <= 8),
    books AS (
      SELECT CAST(s.s AS INT) AS s, init.j,
             list_slice(vv, CAST(s.s * 16 + 1 AS INT), CAST(s.s * 16 + 16 AS INT)) AS cw
      FROM init CROSS JOIN (SELECT UNNEST(range(4)) AS s) s),
    dall AS (
      SELECT v.vec_id, b.s, b.j,
        floor(sum((vv[CAST(b.s * 16 + t.i AS INT)] - cw[CAST(t.i AS INT)])
                * (vv[CAST(b.s * 16 + t.i AS INT)] - cw[CAST(t.i AS INT)])) * 1e4 + 0.5) / 1e4 AS dr
      FROM v CROSS JOIN books b CROSS JOIN range(1, 17) AS t(i)
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, s, j AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dr ASC, j ASC) AS rn
        FROM dall) t
      WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, vv AS qv FROM v WHERE vec_id < 8),
    lut AS (
      SELECT q.query_id, b.s, b.j AS code,
        sum((qv[CAST(b.s * 16 + t.i AS INT)] - cw[CAST(t.i AS INT)])
          * (qv[CAST(b.s * 16 + t.i AS INT)] - cw[CAST(t.i AS INT)])) AS pd
      FROM q CROSS JOIN books b CROSS JOIN range(1, 17) AS t(i)
      GROUP BY 1, 2, 3),
    adc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, round(sum(pd), 4) AS adc_d2
      FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
      WHERE c.vec_id <> l.query_id
      GROUP BY 1, 2),
    sl AS (
      SELECT query_id, neighbor_id, adc_d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_d2 ASC, neighbor_id ASC) AS rka
        FROM adc) t
      WHERE rka <= 6),
    ex AS (
      SELECT sl.query_id, sl.neighbor_id, sl.adc_d2,
        round(sum((q.qv[CAST(t.i AS INT)] - nv.vv[CAST(t.i AS INT)])
                * (q.qv[CAST(t.i AS INT)] - nv.vv[CAST(t.i AS INT)])), 4) AS exact_d2
      FROM sl
      JOIN q ON q.query_id = sl.query_id
      JOIN v nv ON nv.vec_id = sl.neighbor_id
      CROSS JOIN range(1, 65) AS t(i)
      GROUP BY 1, 2, 3)
    SELECT query_id, neighbor_id, adc_d2, exact_d2, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY exact_d2 ASC, neighbor_id ASC) AS rk
      FROM ex) t
    WHERE rk <= 3
  """

  // e13: IVF recall@3 — the exact side is e01's arithmetic at (< 16,
  // k=3), the IVF side is e05 verbatim; the composition is one
  // left join + per-query fraction.
  private val e13 = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    n AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
          FROM (SELECT vec_id, UNNEST(embedding) AS x FROM e) u GROUP BY vec_id),
    xdots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        sum(CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)
            * CAST(c.embedding[CAST(i AS INT)] AS DOUBLE)) AS dot
      FROM e q CROSS JOIN e c CROSS JOIN range(1, 65) AS t(i)
      WHERE q.vec_id < 16 AND c.vec_id <> q.vec_id
      GROUP BY 1, 2),
    xs AS (
      SELECT d.query_id, d.neighbor_id, round(d.dot / (nq.nrm * nc.nrm), 5) AS cosine
      FROM xdots d
      JOIN n nq ON d.query_id = nq.vec_id
      JOIN n nc ON d.neighbor_id = nc.vec_id),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS rk
        FROM xs) t
      WHERE rk <= 3),
    c AS (SELECT vec_id AS centroid_id, embedding AS cemb FROM e WHERE vec_id < 8),
    ad AS (
      SELECT v.vec_id, c.centroid_id,
        round(sum((CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE))
                * (CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE))), 4) AS d2
      FROM e v CROSS JOIN c CROSS JOIN range(1, 65) AS t(i)
      GROUP BY 1, 2),
    assign AS (
      SELECT vec_id AS neighbor_id, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC) AS rn
        FROM ad) t
      WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC) AS rn
        FROM ad WHERE vec_id < 16) t
      WHERE rn <= 2),
    idots AS (
      SELECT p.query_id, m.neighbor_id,
        sum(CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)
            * CAST(v.embedding[CAST(i AS INT)] AS DOUBLE)) AS dot
      FROM probes p
      JOIN assign m ON p.centroid_id = m.centroid_id
      JOIN e q ON q.vec_id = p.query_id
      JOIN e v ON v.vec_id = m.neighbor_id
      CROSS JOIN range(1, 65) AS t(i)
      WHERE m.neighbor_id <> p.query_id
      GROUP BY 1, 2),
    ivs AS (
      SELECT d.query_id, d.neighbor_id, round(d.dot / (nq.nrm * nc.nrm), 5) AS cosine
      FROM idots d
      JOIN n nq ON d.query_id = nq.vec_id
      JOIN n nc ON d.neighbor_id = nc.vec_id),
    ivf AS (
      SELECT query_id, neighbor_id, 1 AS hit FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS rk
        FROM ivs) t
      WHERE rk <= 3)
    SELECT x.query_id,
      CAST(count(*) AS BIGINT) AS k_exact,
      CAST(coalesce(sum(i.hit), 0) AS BIGINT) AS n_hit,
      round(CAST(coalesce(sum(i.hit), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE)
            * 1000000.0) / 1000000.0 AS recall
    FROM exact x
    LEFT JOIN ivf i ON x.query_id = i.query_id AND x.neighbor_id = i.neighbor_id
    GROUP BY 1
  """

  private val e02 = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, embedding AS cemb FROM e WHERE vec_id < 8),
    d AS (
      SELECT v.vec_id, c.centroid_id,
        round(sum((CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE))
                * (CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE))), 4) AS d2
      FROM e v CROSS JOIN c CROSS JOIN range(1, 65) AS t(i)
      GROUP BY 1, 2)
    SELECT vec_id, centroid_id, d2 FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d2 ASC, centroid_id ASC) AS rn FROM d) t
    WHERE rn = 1
  """

  // e17: simplified silhouette vs the e02 centroids — e02's distance
  // arithmetic through an IEEE-exact sqrt (rounded 6dp), rn 1/2 as
  // own/nearest-other, s = (b-a)/max(a,b) rounded 6dp.
  private val e17 = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, embedding AS cemb FROM e WHERE vec_id < 8),
    d AS (
      SELECT v.vec_id, c.centroid_id,
        round(sqrt(round(sum((CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE))
                * (CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE))), 4)), 6) AS dist
      FROM e v CROSS JOIN c CROSS JOIN range(1, 65) AS t(i)
      GROUP BY 1, 2),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist ASC, centroid_id ASC) AS rn FROM d),
    p AS (
      SELECT vec_id,
        max(CASE WHEN rn = 1 THEN centroid_id END) AS centroid_id,
        max(CASE WHEN rn = 1 THEN dist END) AS a_dist,
        max(CASE WHEN rn = 2 THEN dist END) AS b_dist
      FROM r WHERE rn <= 2 GROUP BY vec_id)
    SELECT vec_id, centroid_id, a_dist, b_dist,
      CASE WHEN greatest(a_dist, b_dist) = 0.0 THEN 0.0
           ELSE round((b_dist - a_dist) / greatest(a_dist, b_dist), 6) END AS sil
    FROM p
  """

  private val e03 = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    p AS (SELECT CAST(vec_id - 8 AS INT) AS plane_id, embedding AS pemb
          FROM e WHERE vec_id >= 8 AND vec_id < 16),
    d AS (
      SELECT v.vec_id, p.plane_id,
        sum(CAST(v.embedding[CAST(i AS INT)] AS DOUBLE)
            * CAST(p.pemb[CAST(i AS INT)] AS DOUBLE)) AS dot
      FROM e v CROSS JOIN p CROSS JOIN range(1, 65) AS t(i)
      GROUP BY 1, 2)
    SELECT vec_id,
      CAST(sum(CASE WHEN dot > 0 THEN CAST(power(2.0, plane_id) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
    FROM d GROUP BY 1
  """

  private val e04 = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    n AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
          FROM (SELECT vec_id, UNNEST(embedding) AS x FROM e) u GROUP BY vec_id),
    d AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        sum(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
            * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)) AS dot
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      CROSS JOIN range(1, 65) AS t(i)
      GROUP BY 1, 2)
    SELECT a_id, b_id, round(d.dot / (na.nrm * nb.nrm), 5) AS cosine
    FROM d JOIN n na ON d.a_id = na.vec_id JOIN n nb ON d.b_id = nb.vec_id
    WHERE round(d.dot / (na.nrm * nb.nrm), 5) >= 0.3
  """

  // e21: bucketed near-dup pairs — re-derives the e03 sign-LSH buckets
  // from raw dot products, then generates pairs ONLY inside a bucket
  // (the same candidate set the Spark equi-join on bucket produces),
  // with e04's 5-dp rounded-cosine threshold.
  private val e21 = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    p AS (SELECT CAST(vec_id - 8 AS INT) AS plane_id, embedding AS pemb
          FROM e WHERE vec_id >= 8 AND vec_id < 16),
    pd AS (
      SELECT v.vec_id, p.plane_id,
        sum(CAST(v.embedding[CAST(i AS INT)] AS DOUBLE)
            * CAST(p.pemb[CAST(i AS INT)] AS DOUBLE)) AS dot
      FROM e v CROSS JOIN p CROSS JOIN range(1, 65) AS t(i)
      GROUP BY 1, 2),
    b AS (
      SELECT vec_id,
        CAST(sum(CASE WHEN dot > 0 THEN CAST(power(2.0, plane_id) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      FROM pd GROUP BY 1),
    n AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
          FROM (SELECT vec_id, UNNEST(embedding) AS x FROM e) u GROUP BY vec_id),
    d AS (
      SELECT a.vec_id AS a_id, b2.vec_id AS b_id,
        sum(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
            * CAST(b2.embedding[CAST(i AS INT)] AS DOUBLE)) AS dot
      FROM e a
      JOIN b ba ON ba.vec_id = a.vec_id
      JOIN b bb ON bb.bucket = ba.bucket
      JOIN e b2 ON b2.vec_id = bb.vec_id AND a.vec_id < b2.vec_id
      CROSS JOIN range(1, 65) AS t(i)
      GROUP BY 1, 2)
    SELECT a_id, b_id, round(d.dot / (na.nrm * nb.nrm), 5) AS cosine
    FROM d JOIN n na ON d.a_id = na.vec_id JOIN n nb ON d.b_id = nb.vec_id
    WHERE round(d.dot / (na.nrm * nb.nrm), 5) >= 0.3
  """

  private val e08 = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, embedding AS cemb FROM e WHERE vec_id < 8),
    d AS (
      SELECT v.vec_id, c.centroid_id,
        round(sum((CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE))
                * (CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE))), 4) AS d2
      FROM e v CROSS JOIN c CROSS JOIN range(1, 65) AS t(i)
      GROUP BY 1, 2),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2 ASC, centroid_id ASC) AS rn FROM d) t
      WHERE rn = 1),
    n AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
          FROM (SELECT vec_id, UNNEST(embedding) AS x FROM e) u GROUP BY 1),
    dropped AS (
      SELECT DISTINCT bb.vec_id FROM assign aa
      JOIN assign bb ON aa.centroid_id = bb.centroid_id AND aa.vec_id < bb.vec_id
      JOIN e ea ON ea.vec_id = aa.vec_id JOIN e eb ON eb.vec_id = bb.vec_id
      JOIN n na ON na.vec_id = aa.vec_id JOIN n nb ON nb.vec_id = bb.vec_id
      CROSS JOIN range(1, 65) AS t(i)
      GROUP BY aa.vec_id, bb.vec_id, na.nrm, nb.nrm
      HAVING round(sum(CAST(ea.embedding[CAST(i AS INT)] AS DOUBLE)
                       * CAST(eb.embedding[CAST(i AS INT)] AS DOUBLE))
                   / (na.nrm * nb.nrm), 5) >= 0.4)
    SELECT a.vec_id, a.centroid_id, (dr.vec_id IS NOT NULL) AS is_dropped
    FROM assign a LEFT JOIN dropped dr ON a.vec_id = dr.vec_id
  """

  private val d13 = s"""
    WITH w AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents),
    top AS (
      SELECT doc_id, max(cnt) AS max_cnt FROM (
        SELECT doc_id, w, count(*) AS cnt FROM w GROUP BY 1, 2) GROUP BY 1),
    base AS (
      SELECT doc_id,
        CAST($tokCount AS BIGINT) AS n_words,
        round((1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                    / CAST(len(grams) AS DOUBLE)) * 1000000.0)
          / 1000000.0 AS dup_bigram_frac
      FROM (
        SELECT doc_id, text,
          list_transform(
            range(1, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 1, 1) + 1),
            i -> array_to_string(
                   list_slice(regexp_split_to_array(trim(text), '\\s+'), i, i + 1), ' ')) AS grams
        FROM documents))
    SELECT b.doc_id, b.n_words, b.dup_bigram_frac,
      round(CAST(coalesce(t.max_cnt, 0) AS DOUBLE)
            / CAST(greatest(b.n_words, 1) AS DOUBLE), 6) AS top_word_share
    FROM base b LEFT JOIN top t USING (doc_id)
  """

  private val d14 = s"""
    WITH g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 4, 1) + 1),
        i -> array_to_string(
               list_slice(regexp_split_to_array(trim(text), '\\s+'), i, i + 4), ' ')))) AS gram
      FROM documents),
    bg AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id < 20),
    tg AS (SELECT DISTINCT gram FROM g WHERE doc_id >= 20)
    SELECT bench_id,
      count(*) AS n_grams,
      CAST(sum(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
      round(CAST(sum(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) * 1000000.0) / 1000000.0 AS contamination
    FROM bg LEFT JOIN tg t USING (gram)
    GROUP BY bench_id
  """

  private val pfp40 =
    "md5(substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 40))"

  private val m03 = s"""
    WITH RECURSIVE base AS (
      SELECT doc_id AS id,
        CAST($tokCount AS BIGINT) + CAST(floor(len(text) / 16.0) AS BIGINT) AS tok_a,
        CAST(ceil(len(text) / 64.0) AS BIGINT) AS tok_b,
        CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) AS h
      FROM documents),
    o AS (
      SELECT id, tok_a, tok_b, h, CAST(h % 8 AS INT) AS shard,
        row_number() OVER (PARTITION BY h % 8 ORDER BY h, id) AS rn
      FROM base),
    packed AS (
      SELECT id, tok_a, tok_b, shard, rn, 1 AS pack_id,
        tok_a AS acc_a, tok_b AS acc_b FROM o WHERE rn = 1
      UNION ALL
      SELECT o.id, o.tok_a, o.tok_b, o.shard, o.rn,
        CASE WHEN p.acc_a + o.tok_a > 512 OR p.acc_b + o.tok_b > 24
             THEN p.pack_id + 1 ELSE p.pack_id END,
        CASE WHEN p.acc_a + o.tok_a > 512 OR p.acc_b + o.tok_b > 24
             THEN o.tok_a ELSE p.acc_a + o.tok_a END,
        CASE WHEN p.acc_a + o.tok_a > 512 OR p.acc_b + o.tok_b > 24
             THEN o.tok_b ELSE p.acc_b + o.tok_b END
      FROM o JOIN packed p ON o.shard = p.shard AND o.rn = p.rn + 1)
    SELECT id, shard, CAST(pack_id AS INT) AS pack_id, tok_a, tok_b FROM packed
  """

  // d33: initial BPE pair statistics. Pairs are overlapping adjacent
  // symbol occurrences over (chars + '</w>'), weighted by the word
  // histogram — the same counting Bpe.trainMerges does at iteration
  // 0. The correlated lateral range is exact for ANY word length
  // (a fixed position bound would silently diverge from the Spark
  // side on a 1000+-char whitespace-free token).
  private val d33 = s"""
    WITH words AS (
      SELECT w AS word, count(*) AS cnt FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents) u
      WHERE length(w) > 0 GROUP BY w),
    prs AS (
      SELECT cnt, substr(word, CAST(i AS INT), 1) AS lsym,
             substr(word, CAST(i + 1 AS INT), 1) AS rsym
      FROM words, LATERAL (SELECT unnest(range(1, length(word))) AS i) t
      UNION ALL
      SELECT cnt, substr(word, length(word), 1) AS lsym, '</w>' AS rsym FROM words),
    agg AS (
      SELECT lsym, rsym, CAST(sum(cnt) AS BIGINT) AS pair_cnt
      FROM prs GROUP BY 1, 2)
    SELECT CAST(rk AS INT) AS rk, lsym, rsym, pair_cnt FROM (
      SELECT *, row_number() OVER (ORDER BY pair_cnt DESC, lsym ASC, rsym ASC) AS rk
      FROM agg) t
    WHERE rk <= 50
  """

  // d34: the HLL register table (m=256, 52-bit rank field) from the
  // content fingerprint's own hex digits — integer-exact end to end:
  // register = first byte, rho = leading zeros of the 52-bit
  // remainder + 1 via length(bin(x)) (⌊log₂x⌋+1, no float).
  private val d34 = s"""
    WITH f AS (SELECT source, $fp AS fp FROM documents),
    r AS (SELECT source, fp,
      CAST('0x' || substring(fp, 1, 2) AS BIGINT) AS reg,
      CAST('0x' || substring(fp, 3, 13) AS BIGINT) AS rem FROM f)
    SELECT source, CAST(reg AS INT) AS reg,
      CAST(max(CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END) AS INT) AS rho,
      count(DISTINCT fp) AS n_fps
    FROM r GROUP BY source, reg
  """

  /** The fixed literal merge table d35 encodes under — shared with
    * SparkEntry so the two sides cannot drift.
    */
  val D35Merges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "</w>"), ("s", "</w>"), ("o", "n"))

  // d35: BPE encoding under the fixed merge table. Each symbol is
  // wrapped chr(1)…chr(2) so merge patterns match only on symbol
  // boundaries; one replace() per merge in training order = the
  // encoder's leftmost-non-overlapping pass (verified equivalent to
  // Bpe.mergePair). Token count = number of chr(1) markers left.
  // Same \x01-\x03-free text precondition as bpeReplayCtes (see its
  // Scaladoc) — a control character in document text would break the
  // bracket encoding in this replay, not in Bpe.encodeWord.
  private val d35: String = {
    val chain = D35Merges.zipWithIndex.map { case ((l, r), i) =>
      s"enc${i + 1} AS (SELECT w, replace(s, chr(1)||'$l'||chr(2)||chr(1)||'$r'||chr(2), " +
        s"chr(1)||'$l$r'||chr(2)) AS s FROM enc$i)"
    }.mkString(",\n    ")
    s"""
    WITH words2 AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents) u
      WHERE length(w) > 0),
    distinctw AS (SELECT DISTINCT w FROM words2),
    enc0 AS (SELECT w,
      list_aggregate(list_transform(string_split(w, ''), c -> chr(1)||c||chr(2)), 'string_agg', '')
        || chr(1)||'</w>'||chr(2) AS s
      FROM distinctw),
    $chain,
    tok AS (SELECT w, length(s) - length(replace(s, chr(1), '')) AS n_tok
            FROM enc${D35Merges.length}),
    agg AS (
      SELECT doc_id, count(*) AS n_words, CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens
      FROM words2 JOIN tok USING (w) GROUP BY doc_id)
    SELECT d.doc_id, CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
      CAST(coalesce(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
  """
  }

  /** d25/d26: the FULL BPE training loop replayed relationally — the
    * "irreducibly iterative" claim overturned. Each of the 40 merge
    * iterations is one generated CTE triple over the word-histogram
    * state (word, cnt, bracket-encoded symbols): adjacent-pair counts
    * (overlapping occurrences each counted, as the trainer counts
    * them) → argmax under the trainer's (count desc, pair lex) order
    * → one guarded replace() applying the winner (= mergePair's
    * leftmost-non-overlapping pass, the d35 equivalence). Every CTE
    * is MATERIALIZED: win_i and st_{i+1} both reference st_i, so
    * default inlining would expand the chain exponentially (measured:
    * "too many open files" from re-planned scans before it OOMs).
    * The final state carries every word's TRAINED encoding, which is
    * exactly what d26's per-doc token counts need — training and
    * encoding verify from one replay.
    *
    * win_i always yields exactly one row: a sentinel (pc = −1,
    * chr(3) symbols that can never match a bracketed pattern) loses
    * to any real pair but survives when the corpus exhausts mergeable
    * pairs early — an empty winner would cross-join the whole word
    * state away. d25 filters sentinel rows out (pc >= 0), mirroring
    * the trainer's early stop. NOTE: no `--` comments inside the SQL
    * itself — the harness flattens statements to one line, and a SQL
    * comment would swallow the rest of the query.
    */
  /** BPE merge-loop replay. Two stated preconditions, matching the
    * Spark trainer exactly on any corpus that satisfies them:
    *  - the histogram carries the same (cnt DESC, word ASC) LIMIT as
    *    `Bpe.trainFromCorpus(maxVocab = 1 << 20)`, so the gate holds
    *    even past a million distinct words;
    *  - the chr(1)/chr(2) symbol brackets (and the chr(3) sentinel)
    *    assume document text contains no \\x01-\\x03 control
    *    characters (true of the fixtures and of any sanely-ingested
    *    corpus; a text containing them would break the bracket
    *    encoding in this replay only, not in `Bpe.encodeWord`).
    */
  private def bpeReplayCtes(n: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""
    hist AS MATERIALIZED (
      SELECT w AS word, count(*) AS cnt FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents) u
      WHERE length(w) > 0 GROUP BY w
      ORDER BY count(*) DESC, w ASC LIMIT 1048576),
    st0 AS MATERIALIZED (
      SELECT word, cnt,
        list_aggregate(list_transform(string_split(word, ''), c -> chr(1)||c||chr(2)), 'string_agg', '')
          || chr(1)||'</w>'||chr(2) AS s
      FROM hist)""")
    for (i <- 0 until n) sb.append(s""",
    pairs$i AS MATERIALIZED (
      SELECT ls[CAST(j AS INT)] AS lsym, ls[CAST(j + 1 AS INT)] AS rsym, CAST(sum(cnt) AS BIGINT) AS pc
      FROM (SELECT cnt, regexp_extract_all(s, chr(1)||'([^'||chr(2)||']*)'||chr(2), 1) AS ls FROM st$i) sy
      CROSS JOIN LATERAL (SELECT unnest(range(1, len(ls))) AS j) t
      WHERE len(ls) > 1
      GROUP BY 1, 2),
    win$i AS MATERIALIZED (
      SELECT CAST($i AS BIGINT) AS rank, lsym, rsym, pc FROM (
        SELECT lsym, rsym, pc, 0 AS pri FROM pairs$i
        UNION ALL SELECT chr(3), chr(3), CAST(-1 AS BIGINT), 1
      ) ORDER BY pri ASC, pc DESC, lsym ASC, rsym ASC LIMIT 1),
    st${i + 1} AS MATERIALIZED (
      SELECT st.word, st.cnt,
        replace(st.s, chr(1)||w.lsym||chr(2)||chr(1)||w.rsym||chr(2), chr(1)||w.lsym||w.rsym||chr(2)) AS s
      FROM st$i st CROSS JOIN win$i w)""")
    sb.toString
  }

  private val BpeTrainMerges = 40

  private val d25: String = {
    val wins = (0 until BpeTrainMerges).map(i => s"SELECT * FROM win$i").mkString(" UNION ALL ")
    // pc >= 0 drops sentinel winners — the trainer stops early when no
    // pair remains and emits fewer rows, and so must the replay
    s"""WITH ${bpeReplayCtes(BpeTrainMerges)}
    SELECT rank, lsym AS left_sym, rsym AS right_sym, pc AS pair_count FROM ($wins)
    WHERE pc >= 0"""
  }

  // LEFT JOIN from documents: a zero-word doc still gets its (0, 0)
  // row, exactly as the Spark encoder emits one row per input doc
  private val d26: String =
    s"""WITH ${bpeReplayCtes(BpeTrainMerges)},
    tok AS (SELECT word, length(s) - length(replace(s, chr(1), '')) AS n_tok FROM st$BpeTrainMerges),
    words2 AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents) u
      WHERE length(w) > 0),
    agg AS (
      SELECT doc_id, count(*) AS n_words, CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens
      FROM words2 JOIN tok ON w = word GROUP BY doc_id)
    SELECT d.doc_id, CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
      CAST(coalesce(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id"""

  private val d16 = s"""
    WITH words AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents),
    counts AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
    total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_types FROM counts),
    top AS (
      SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w ASC) AS rk,
        CAST(sum(cnt) OVER (ORDER BY cnt DESC, w ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cnt
      FROM counts)
    SELECT CAST(rk AS INT) AS rk, w, cnt,
      round(CAST(cum_cnt AS DOUBLE) / CAST(total AS DOUBLE) * 1000000.0)
        / 1000000.0 AS coverage,
      n_types
    FROM top, total WHERE rk <= 20
  """

  private val d15 = s"""
    WITH dfp AS (SELECT doc_id, $pfp40 AS fp FROM documents WHERE doc_id >= 400),
    hits AS (SELECT DISTINCT $pfp40 AS fp FROM documents WHERE doc_id < 400),
    d AS (
      SELECT dfp.doc_id, dfp.fp, (h.fp IS NOT NULL) AS hit,
        min(dfp.doc_id) OVER (PARTITION BY dfp.fp) AS min_id
      FROM dfp LEFT JOIN hits h USING (fp))
    SELECT doc_id, fp,
      CASE WHEN hit THEN 'dup_of_corpus'
           WHEN doc_id <> min_id THEN 'dup_in_delta'
           ELSE 'kept' END AS verdict
    FROM d
  """

  // d17: ExactSubstr duplicated spans — DuckDB takes the direct
  // gram-explode route (substring per position); the Spark side's
  // rolling-hash + bloom prefilter is invisible in the result by
  // construction (exact gram recount).
  private val d17 = """
    WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
    g AS (SELECT doc_id, CAST(p AS INT) AS pos,
            substring(text, CAST(p + 1 AS INT), 15) AS gram, n
          FROM d, UNNEST(range(0, greatest(n - 15 + 1, 1))) AS t(p)),
    dup AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
            GROUP BY gram HAVING count(*) >= 2),
    occ AS (SELECT g.doc_id, g.pos, g.n FROM g JOIN dup USING (gram)),
    fl AS (SELECT doc_id, pos, n,
             CASE WHEN max(pos + 15) OVER w IS NULL
                    OR pos > max(pos + 15) OVER w THEN 1 ELSE 0 END AS nw
           FROM occ
           WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    isl AS (SELECT doc_id, pos, n,
              sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
            FROM fl),
    sp AS (SELECT doc_id, grp, count(*) AS cnt, min(pos) AS s,
             least(max(pos) + 15, min(n)) AS e
           FROM isl GROUP BY 1, 2),
    pd AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_dup_grams,
             count(*) AS n_spans, CAST(sum(e - s) AS BIGINT) AS dup_chars
           FROM sp GROUP BY 1)
    SELECT d.doc_id,
      coalesce(pd.n_dup_grams, 0) AS n_dup_grams,
      coalesce(pd.n_spans, 0) AS n_spans,
      coalesce(pd.dup_chars, 0) AS dup_chars,
      round(CAST(coalesce(pd.dup_chars, 0) AS DOUBLE) /
            CAST(greatest(d.n, 1) AS DOUBLE), 6) AS dup_frac
    FROM d LEFT JOIN pd USING (doc_id)
  """

  // d19: unigram LM score — every probability is the exact integer
  // ratio (cnt+1)/(total+1001), so the only float surface is ln() and
  // the mean; round(,6) absorbs the cross-libm ulp like the trig
  // queries do.
  private val d19 = """
    WITH words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents) t
      WHERE len(w) > 0),
    counts AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
    model AS (SELECT w, cnt FROM counts ORDER BY cnt DESC, w ASC LIMIT 1000),
    sc AS (SELECT words.doc_id,
             CASE WHEN m.cnt IS NULL THEN 1 ELSE 0 END AS oov,
             ln(CAST(coalesce(m.cnt + 1, 1) AS DOUBLE) /
                CAST(total + 1001 AS DOUBLE)) AS logp
           FROM words LEFT JOIN model m USING (w), tot),
    pd AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
             round(avg(logp), 6) AS avg_logp
           FROM sc GROUP BY doc_id)
    SELECT d.doc_id, coalesce(pd.n_tokens, 0) AS n_tokens,
      coalesce(pd.n_oov, 0) AS n_oov, pd.avg_logp
    FROM documents d LEFT JOIN pd USING (doc_id)
  """

  // d20: DEFLATE is not SQL-replayable, so the d29 known-true-literal
  // idiom gates it: the byte count exactly (strlen = UTF-8 bytes in
  // DuckDB), per-row invariants of a correct compression ratio as
  // literal trues, and the two fixed-string codec pins as the level-6
  // raw-deflate constants probed from zlib (a Spark-side codec drift
  // breaks the hash).
  private val d20 = """
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
      true AS ratio_pos, true AS ratio_bounded, true AS double_compresses,
      0.0097 AS pin_rep, 0.8445 AS pin_mix
    FROM documents
  """

  // d21: Gopher rules — every signal mirrors the Spark column
  // expression; flags compare the same 6-dp-rounded values both sides.
  private val d21 = s"""
    WITH base AS (
      SELECT doc_id,
        CAST($tokCount AS BIGINT) AS n_words,
        round(CAST(len(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
              / CAST(greatest($tokCount, 1) AS DOUBLE) * 1000000.0)
          / 1000000.0 AS mean_wlen,
        round(CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
              / CAST(greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) AS DOUBLE)
              * 1000000.0) / 1000000.0 AS alpha_frac,
        CAST(len(list_intersect(
               list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')),
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits,
        round((1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                    / CAST(len(grams) AS DOUBLE)) * 1000000.0)
          / 1000000.0 AS dup_bigram_frac
      FROM (
        SELECT doc_id, text,
          list_transform(
            range(1, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 1, 1) + 1),
            i -> array_to_string(
                   list_slice(regexp_split_to_array(trim(text), '\\s+'), i, i + 1), ' ')) AS grams
        FROM documents))
    SELECT doc_id, n_words, mean_wlen, alpha_frac, stop_hits, dup_bigram_frac,
      n_words BETWEEN 50 AND 100000 AS ok_words,
      mean_wlen BETWEEN 3.0 AND 10.0 AS ok_wlen,
      alpha_frac >= 0.8 AS ok_alpha,
      stop_hits >= 2 AS ok_stop,
      dup_bigram_frac <= 0.05 AS ok_rep,
      (n_words BETWEEN 50 AND 100000) AND (mean_wlen BETWEEN 3.0 AND 10.0)
        AND alpha_frac >= 0.8 AND stop_hits >= 2 AND dup_bigram_frac <= 0.05 AS pass
    FROM base
  """

  // d22: bigram stupid backoff — bigrams formed in-row (1-based list
  // indexing both engines); hit path ln(cnt2/cnt1) with the FULL
  // prefix count as denominator, miss path ln(0.4 · add-one unigram).
  private val d22 = """
    WITH words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents) t
      WHERE len(w) > 0),
    counts AS (SELECT w, count(*) AS cntu FROM words GROUP BY w),
    tot AS (SELECT CAST(sum(cntu) AS BIGINT) AS total FROM counts),
    uni AS (SELECT w, cntu FROM counts ORDER BY cntu DESC, w ASC LIMIT 1000),
    bg AS (
      SELECT doc_id,
        unnest(list_transform(range(2, len(ws) + 1), i -> ws[i-1] || ' ' || ws[i])) AS bg
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents)),
    bgm AS (
      SELECT b.bg, b.cnt2, c.cntu AS cnt1
      FROM (SELECT bg, count(*) AS cnt2 FROM bg GROUP BY bg
            ORDER BY cnt2 DESC, bg ASC LIMIT 500) b
      JOIN counts c ON split_part(b.bg, ' ', 1) = c.w),
    sc AS (
      SELECT bg.doc_id,
        CASE WHEN m.cnt2 IS NULL THEN 0 ELSE 1 END AS hit,
        CASE WHEN m.cnt2 IS NOT NULL
             THEN ln(CAST(m.cnt2 AS DOUBLE) / CAST(m.cnt1 AS DOUBLE))
             ELSE ln(0.4 * (CAST(coalesce(u.cntu + 1, 1) AS DOUBLE)
                            / CAST(total + 1001 AS DOUBLE))) END AS logp
      FROM bg LEFT JOIN bgm m USING (bg)
      LEFT JOIN uni u ON split_part(bg.bg, ' ', 2) = u.w, tot),
    pd AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(hit) AS BIGINT) AS n_hits,
             round(avg(logp), 6) AS avg_logp
           FROM sc GROUP BY doc_id)
    SELECT d.doc_id, coalesce(pd.n_bigrams, 0) AS n_bigrams,
      coalesce(pd.n_hits, 0) AS n_hits, pd.avg_logp
    FROM documents d LEFT JOIN pd USING (doc_id)
  """

  // d23: per-source triage report — the d21 and d19 statements embed
  // verbatim as subqueries, so the composition stays arithmetic-
  // identical to its parts.
  private val d23 = s"""
    SELECT d.source,
      count(*) AS n_docs,
      CAST(sum(CASE WHEN g.pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      round(avg(CASE WHEN g.pass THEN 1.0 ELSE 0.0 END), 6) AS pass_rate,
      round(avg(l.avg_logp), 6) AS avg_lm
    FROM documents d
    JOIN ($d21) g USING (doc_id)
    JOIN ($d19) l USING (doc_id)
    GROUP BY d.source
  """

  // d24: sliding token-window chunking — chunk count is
  // 1 + ceil(max(n-64,0)/48); list_slice clamps like Spark's slice, so
  // the final short window hashes identically. Integer index math
  // only; the sole string surface is the md5 hex both engines share.
  private val d24 = """
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents WHERE len(trim(text)) > 0),
    n AS (SELECT doc_id, ws, len(ws) AS n FROM w),
    ix AS (
      SELECT doc_id, ws, n,
        unnest(range(1, 2 + CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT))) AS i
      FROM n)
    SELECT doc_id,
      CAST(i - 1 AS BIGINT) AS chunk_idx,
      CAST(1 + (i - 1) * 48 AS BIGINT) AS start_tok,
      CAST(least(64, n - (1 + (i - 1) * 48) + 1) AS BIGINT) AS n_tokens,
      md5(array_to_string(list_slice(ws, 1 + (i - 1) * 48, (1 + (i - 1) * 48) + 63), ' ')) AS chunk_hash
    FROM ix
  """

  // e12: prototype pruning on top of the e02 assignment CTE — the
  // keep rule is pure integer arithmetic (2·rank ≤ n+1 ⟺ rank ≤
  // ceil(n/2)) so no float threshold can drift between engines.
  private val e12 = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, embedding AS cemb FROM e WHERE vec_id < 8),
    d AS (
      SELECT v.vec_id, c.centroid_id,
        round(sum((CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE))
                * (CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE))), 4) AS d2
      FROM e v CROSS JOIN c CROSS JOIN range(1, 65) AS t(i)
      GROUP BY 1, 2),
    a AS (
      SELECT vec_id, centroid_id, d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2 ASC, centroid_id ASC) AS rn FROM d) t
      WHERE rn = 1)
    SELECT vec_id, centroid_id, d2,
      CAST(row_number() OVER (PARTITION BY centroid_id
                              ORDER BY d2 DESC, vec_id ASC) AS BIGINT) AS hard_rank,
      CAST(count(*) OVER (PARTITION BY centroid_id) AS BIGINT) AS cluster_n,
      row_number() OVER (PARTITION BY centroid_id
                         ORDER BY d2 DESC, vec_id ASC) * 2
        <= count(*) OVER (PARTITION BY centroid_id) + 1 AS keep
    FROM a
  """

  // c01: the composed corpus pipeline — each CTE embeds the SAME
  // arithmetic its standalone oracle uses (d02's prefix fingerprint,
  // d21's rule signals, t05's bucket/budget math, t06's epoch key),
  // so the end-to-end hash match certifies the COMPOSITION, not new
  // logic.
  private val c01 = s"""
    WITH pfp AS (
      SELECT doc_id,
        md5(substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 40)) AS fp
      FROM documents),
    dd AS (SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY fp) AS dedup_keep FROM pfp),
    rl AS (SELECT doc_id, ok_words, ok_rep FROM ($d21)),
    flags AS (
      SELECT d.doc_id, dd.dedup_keep, rl.ok_words, rl.ok_rep,
        dd.dedup_keep AND rl.ok_words AND rl.ok_rep AS eligible
      FROM documents d JOIN dd USING (doc_id) JOIN rl USING (doc_id)),
    base AS (
      SELECT d.doc_id,
        CAST($tokCount AS BIGINT) AS tokens,
        CAST(round(round((least(CAST(len(text) AS DOUBLE) / 200.0, 1.0)
               + greatest(0.0, 1.0 - ($punctRatio) * 10.0)
               + least(($stopRatio) * 4.0, 1.0)) / 3.0 * 1000000.0)
               / 1000000.0 * 100.0, 0) AS INT) AS qbucket
      FROM documents d JOIN flags USING (doc_id)
      WHERE flags.eligible),
    cum AS (
      SELECT qbucket,
        coalesce(sum(btok) OVER (ORDER BY qbucket DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS better_tok
      FROM (SELECT qbucket, sum(tokens) AS btok FROM base GROUP BY qbucket) h),
    selq AS (
      SELECT b.doc_id,
        (CAST(c.better_tok AS BIGINT)
         + CAST(sum(b.tokens) OVER (PARTITION BY b.qbucket ORDER BY b.doc_id ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        ) <= 6000 AS kept
      FROM base b JOIN cum c USING (qbucket)),
    ord AS (
      SELECT doc_id,
        CAST(row_number() OVER (
          ORDER BY md5(CAST(doc_id AS VARCHAR) || ':0') ASC, doc_id ASC) AS BIGINT) AS pos
      FROM selq WHERE kept)
    SELECT f.doc_id, f.dedup_keep, f.ok_words, f.ok_rep, f.eligible,
      coalesce(s.kept, false) AS selected, o.pos
    FROM flags f
    LEFT JOIN selq s USING (doc_id)
    LEFT JOIN ord o USING (doc_id)
  """

  // d27: per-source cap — the oracle replays the bucketed rank as a
  // plain per-source row_number over (md5 key, id).
  private val d27 = """
    SELECT doc_id, source,
      CAST(row_number() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS BIGINT) AS rk,
      row_number() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) <= 40 AS capped_keep
    FROM documents
  """

  // d28: TF-IDF top-3 — tf/idf are exact integer ratios into one ln
  // and one product; rank ties on the 6-dp-rounded score break by
  // term, so the top-3 set is engine-stable.
  private val d28 = s"""
    WITH ww AS (
      SELECT doc_id, CAST($tokCount AS BIGINT) AS doc_tok,
        unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents),
    ww2 AS (SELECT doc_id, doc_tok, w FROM ww WHERE len(w) > 0),
    tf AS (SELECT doc_id, doc_tok, w, count(*) AS tf_cnt FROM ww2 GROUP BY 1, 2, 3),
    dfreq AS (SELECT w, count(DISTINCT doc_id) AS dfc FROM ww2 GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    sc AS (
      SELECT t.doc_id, t.w AS term,
        round((CAST(t.tf_cnt AS DOUBLE) / CAST(t.doc_tok AS DOUBLE))
              * ln(CAST(n.n_docs AS DOUBLE) / CAST(f.dfc AS DOUBLE)), 6) AS tfidf
      FROM tf t JOIN dfreq f ON t.w = f.w, n)
    SELECT doc_id, term, tfidf, rk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rk
      FROM sc) z
    WHERE rk <= 3
  """

  // t07: length-bucketed batching — integer bucket/batch arithmetic,
  // rank replayed per bucket.
  private val t07 = s"""
    WITH b AS (
      SELECT doc_id,
        CAST($tokCount AS BIGINT) AS tokens,
        CAST(floor(CAST($tokCount AS BIGINT) / 32.0) AS INT) AS lbucket,
        md5(CAST(doc_id AS VARCHAR)) AS bkey
      FROM documents),
    r AS (
      SELECT doc_id, tokens, lbucket,
        CAST(row_number() OVER (PARTITION BY lbucket
               ORDER BY bkey ASC, doc_id ASC) AS BIGINT) AS rk
      FROM b)
    SELECT doc_id, tokens, lbucket, rk,
      CAST(floor((rk - 1) / 16.0) AS BIGINT) AS batch_id
    FROM r
  """

  private val t01 = """
    WITH c AS (SELECT lang, count(*) AS n_stratum FROM documents GROUP BY lang),
    r AS (SELECT lang, n_stratum,
            CAST(floor(least(1.0, 50.0 / n_stratum) * 1000000.0) AS BIGINT) AS keep_threshold
          FROM c)
    SELECT d.doc_id, d.lang, r.n_stratum, r.keep_threshold,
      (CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 1000000)
        < r.keep_threshold AS kept
    FROM documents d JOIN r USING (lang)
  """

  private val t02 = """
    WITH c AS (SELECT source, count(*) AS n_stratum FROM documents GROUP BY source),
    t AS (SELECT list_reduce(
                   list_prepend(0.0, list(sqrt(CAST(n_stratum AS DOUBLE)) ORDER BY source)),
                   (a, x) -> a + x) AS tot
          FROM c)
    SELECT source, n_stratum,
      round(sqrt(CAST(n_stratum AS DOUBLE)) / tot, 6) AS weight,
      round(10000.0 * sqrt(CAST(n_stratum AS DOUBLE)) / tot / n_stratum, 6) AS epochs
    FROM c, t
  """

  // t05: quality-budget subset — integer bucket from the 6-dp-rounded
  // quality (the d04 arithmetic), greedy keep in (bucket desc, id asc)
  // order via cross-bucket cumulative + in-bucket cumulative.
  private val t05 = s"""
    WITH base AS (
      SELECT doc_id,
        CAST($tokCount AS BIGINT) AS tokens,
        CAST(round(round((least(CAST(len(text) AS DOUBLE) / 200.0, 1.0)
               + greatest(0.0, 1.0 - ($punctRatio) * 10.0)
               + least(($stopRatio) * 4.0, 1.0)) / 3.0 * 1000000.0)
               / 1000000.0 * 100.0, 0) AS INT) AS qbucket
      FROM documents),
    cum AS (
      SELECT qbucket,
        coalesce(sum(btok) OVER (ORDER BY qbucket DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS better_tok
      FROM (SELECT qbucket, sum(tokens) AS btok FROM base GROUP BY qbucket) h)
    SELECT b.doc_id, b.tokens, b.qbucket,
      (CAST(c.better_tok AS BIGINT)
       + CAST(sum(b.tokens) OVER (PARTITION BY b.qbucket ORDER BY b.doc_id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      ) <= 12000 AS kept
    FROM base b JOIN cum c USING (qbucket)
  """

  // t06: deterministic epoch shuffle — the oracle replays the rank as
  // one per-epoch row_number over (key, doc_id); the Spark side's
  // bucketed prefix-sum must equal it exactly.
  // t08: curriculum admission (epoch-indexed quality-bucket
  // threshold) + within-epoch order by the md5 epoch key, exactly the
  // d04 quality arithmetic and the t06 ordering rule. The bucket
  // floors the micro-grid quality (product quantizer — see d04) * 100:
  // both engines floor the identical double.
  private val t08 = s"""
    WITH q AS (
      SELECT doc_id,
        CAST(floor(round((least(CAST(len(text) AS DOUBLE) / 200.0, 1.0)
               + greatest(0.0, 1.0 - ($punctRatio) * 10.0)
               + least(($stopRatio) * 4.0, 1.0)) / 3.0 * 1000000.0)
               / 1000000.0 * 100) AS INT) AS qb
      FROM documents),
    e(epoch, qmin) AS (SELECT * FROM (VALUES (0, 75), (1, 50), (2, 25), (3, 0)) v),
    adm AS (SELECT doc_id, epoch, qb FROM q CROSS JOIN e WHERE qb >= qmin)
    SELECT doc_id, epoch, qb,
      CAST(row_number() OVER (PARTITION BY epoch
        ORDER BY md5(CAST(doc_id AS VARCHAR) || ':c:' || CAST(epoch AS VARCHAR)) ASC,
                 doc_id ASC) AS BIGINT) AS pos
    FROM adm
  """

  private val t06 = """
    WITH e AS (
      SELECT doc_id, epoch
      FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS epoch) t),
    k AS (
      SELECT doc_id, CAST(epoch AS INT) AS epoch,
        md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS shuffle_key
      FROM e)
    SELECT doc_id, epoch, shuffle_key,
      CAST(row_number() OVER (PARTITION BY epoch
                              ORDER BY shuffle_key ASC, doc_id ASC) AS BIGINT) AS pos
    FROM k
  """

  private val t04 = """
    WITH c AS (SELECT source, count(*) AS n_stratum FROM documents GROUP BY source),
    t AS (SELECT list_reduce(
                   list_prepend(0.0, list(sqrt(CAST(n_stratum AS DOUBLE)) ORDER BY source)),
                   (a, x) -> a + x) AS tot
          FROM c),
    w AS (SELECT source, n_stratum,
            round(sqrt(CAST(n_stratum AS DOUBLE)) / tot, 6) AS weight FROM c, t)
    SELECT d.doc_id, d.source,
      round(CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 12) AS BIGINT)
             / 281474976710656.0 * CAST(w.n_stratum AS DOUBLE) / w.weight, 6) AS ikey
    FROM documents d JOIN w USING (source)
  """

  private val t03 = s"""
    WITH RECURSIVE base AS (
      SELECT doc_id AS id,
        CAST($tokCount AS BIGINT) + CAST(floor(len(text) / 16.0) AS BIGINT) AS tok,
        CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) AS h
      FROM documents),
    o AS (
      SELECT id, tok, h, CAST(h % 8 AS INT) AS shard,
        row_number() OVER (PARTITION BY h % 8 ORDER BY h, id) AS rn
      FROM base),
    packed AS (
      SELECT id, tok, shard, rn, 1 AS pack_id, tok AS acc FROM o WHERE rn = 1
      UNION ALL
      SELECT o.id, o.tok, o.shard, o.rn,
        CASE WHEN p.acc + o.tok > 512 THEN p.pack_id + 1 ELSE p.pack_id END,
        CASE WHEN p.acc + o.tok > 512 THEN o.tok ELSE p.acc + o.tok END
      FROM o JOIN packed p ON o.shard = p.shard AND o.rn = p.rn + 1)
    SELECT id, shard, CAST(pack_id AS INT) AS pack_id, tok FROM packed
  """

  // d30: DSIR importance weights — one conditional word count builds
  // both group models; shared top-500 vocabulary; add-one ratios are
  // exact integers, ln + 6-dp-rounded mean is the only float surface.
  private val d30 = """
    WITH words AS (
      SELECT doc_id, is_t, w FROM (
        SELECT doc_id, (lang = 'en') AS is_t,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents) t
      WHERE len(w) > 0),
    counts AS (SELECT w,
        CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t,
        CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cnt_r
      FROM words GROUP BY w),
    tot AS (SELECT CAST(sum(cnt_t) AS BIGINT) AS total_t,
                   CAST(sum(cnt_r) AS BIGINT) AS total_r FROM counts),
    model AS (SELECT w, cnt_t, cnt_r FROM counts
              ORDER BY (cnt_t + cnt_r) DESC, w ASC LIMIT 500),
    sc AS (SELECT words.doc_id,
             CASE WHEN m.cnt_t IS NULL THEN 1 ELSE 0 END AS oov,
             ln(CAST(coalesce(m.cnt_t, 0) + 1 AS DOUBLE) / CAST(total_t + 501 AS DOUBLE))
               - ln(CAST(coalesce(m.cnt_r, 0) + 1 AS DOUBLE) / CAST(total_r + 501 AS DOUBLE)) AS logw
           FROM words LEFT JOIN model m USING (w), tot),
    pd AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
             round(avg(logw), 6) AS logw_avg
           FROM sc GROUP BY doc_id)
    SELECT d.doc_id, coalesce(pd.n_tokens, 0) AS n_tokens,
      coalesce(pd.n_oov, 0) AS n_oov, pd.logw_avg
    FROM documents d LEFT JOIN pd USING (doc_id)
  """

  // d31: per-source unigram KL vs the corpus over the shared top-200
  // vocabulary + one OOV bucket, add-one smoothed on both sides.
  private val d31 = """
    WITH words AS (
      SELECT source, w FROM (
        SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents) t
      WHERE len(w) > 0),
    gc AS (SELECT w, source, count(*) AS cnt_g FROM words GROUP BY 1, 2),
    wc AS (SELECT w, CAST(sum(cnt_g) AS BIGINT) AS cnt_c FROM gc GROUP BY 1),
    top AS (SELECT w, cnt_c FROM wc ORDER BY cnt_c DESC, w ASC LIMIT 200),
    totals AS (SELECT source, CAST(sum(cnt_g) AS BIGINT) AS total_g FROM gc GROUP BY 1),
    totc AS (SELECT CAST(sum(cnt_c) AS BIGINT) AS total_c FROM wc),
    pairs AS (
      SELECT t.source, t.total_g, p.cnt_c, coalesce(g.cnt_g, 0) AS cnt_g
      FROM totals t CROSS JOIN top p
      LEFT JOIN gc g ON g.w = p.w AND g.source = t.source),
    vocab_part AS (
      SELECT source, total_g, total_c,
        sum((CAST(cnt_g + 1 AS DOUBLE) / CAST(total_g + 201 AS DOUBLE)) *
            (ln(CAST(cnt_g + 1 AS DOUBLE) / CAST(total_g + 201 AS DOUBLE)) -
             ln(CAST(cnt_c + 1 AS DOUBLE) / CAST(total_c + 201 AS DOUBLE)))) AS kl_vocab
      FROM pairs, totc GROUP BY 1, 2, 3),
    in_g AS (SELECT source, total_g, CAST(sum(cnt_g) AS BIGINT) AS in_g FROM pairs GROUP BY 1, 2),
    in_c AS (SELECT CAST(sum(cnt_c) AS BIGINT) AS in_c FROM top),
    oov_part AS (
      SELECT source, total_g - in_g AS oov_g,
        ((CAST(total_g - in_g + 1 AS DOUBLE) / CAST(total_g + 201 AS DOUBLE)) *
         (ln(CAST(total_g - in_g + 1 AS DOUBLE) / CAST(total_g + 201 AS DOUBLE)) -
          ln(CAST(total_c - in_c + 1 AS DOUBLE) / CAST(total_c + 201 AS DOUBLE)))) AS kl_oov
      FROM in_g, in_c, totc)
    SELECT v.source, v.total_g AS n_tokens, o.oov_g AS n_oov,
      round(v.kl_vocab + o.kl_oov, 6) AS kl
    FROM vocab_part v JOIN oov_part o USING (source)
  """

  // d32: PII scan — RE2/java.util.regex-shared syntax; the synthetic
  // corpus is PII-free so this certifies the true-negative path (the
  // pattern-hit contracts live in OperatorSpec on literal PII rows).
  private val d32 = """
    SELECT doc_id,
      CAST(len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
      CAST(len(regexp_extract_all(text,
        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
      CAST(len(regexp_extract_all(text,
        '\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3}[-. ]?[0-9]{2,4}\b')) AS BIGINT) AS n_phone,
      CAST(len(text) - len(
        regexp_replace(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
          '\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3}[-. ]?[0-9]{2,4}\b', '<PHONE>', 'g')
      ) AS BIGINT) AS len_delta
    FROM documents
  """

  // e14: Matryoshka truncation recall — e07's shape with the second
  // search space = the first 32 dims (queries AND corpus truncated).
  private val e14 = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    cf AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM e),
    qf AS (SELECT vec_id, emb FROM cf WHERE vec_id < 32),
    ch AS (SELECT vec_id, list_transform(embedding[1:32], v -> CAST(v AS DOUBLE)) AS emb FROM e),
    qh AS (SELECT vec_id, emb FROM ch WHERE vec_id < 32),
    nf AS (SELECT vec_id, sqrt(list_reduce(list_prepend(0.0,
             list_transform(emb, x -> x * x)), (s, x) -> s + x)) AS nrm FROM cf),
    nh AS (SELECT vec_id, sqrt(list_reduce(list_prepend(0.0,
             list_transform(emb, x -> x * x)), (s, x) -> s + x)) AS nrm FROM ch),
    ex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          round(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i ->
              q.emb[CAST(i AS INT)] * c.emb[CAST(i AS INT)])), (s, x) -> s + x)
            / (a.nrm * b.nrm), 5) AS cosine
        FROM qf q
        JOIN cf c ON c.vec_id <> q.vec_id
        JOIN nf a ON a.vec_id = q.vec_id
        JOIN nf b ON b.vec_id = c.vec_id) s
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id ASC) <= 5),
    tr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          round(list_reduce(list_prepend(0.0, list_transform(range(1, 33), i ->
              q.emb[CAST(i AS INT)] * c.emb[CAST(i AS INT)])), (s, x) -> s + x)
            / (a.nrm * b.nrm), 5) AS cosine
        FROM qh q
        JOIN ch c ON c.vec_id <> q.vec_id
        JOIN nh a ON a.vec_id = q.vec_id
        JOIN nh b ON b.vec_id = c.vec_id) s
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id ASC) <= 5),
    com AS (
      SELECT ex.query_id, count(*) AS n_common
      FROM ex JOIN tr ON ex.query_id = tr.query_id AND ex.neighbor_id = tr.neighbor_id
      GROUP BY 1)
    SELECT x.query_id,
      x.n_exact, u.n_trunc,
      coalesce(c.n_common, 0) AS n_common,
      round(coalesce(c.n_common, 0) / CAST(x.n_exact AS DOUBLE) * 1000000.0)
        / 1000000.0 AS recall
    FROM (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1) x
    JOIN (SELECT query_id, count(*) AS n_trunc FROM tr GROUP BY 1) u ON x.query_id = u.query_id
    LEFT JOIN com c ON x.query_id = c.query_id
  """

  val all: Map[String, String] = Map(
    "q01_pricing_summary" -> q01,
    "q02_clamp" -> q02,
    "q03_top_orders_per_segment" -> q03,
    "q04_revenue_by_nation" -> q04,
    "q05_iqr_outliers" -> q05,
    "q06_freq_inference" -> q06,
    "q07_daily_energy" -> q07,
    "q08_daily_density" -> q08,
    "q09_linearity_mode" -> q09,
    "q10_smoothness" -> q10,
    "q11_solar_noon" -> q11,
    "q12_runs" -> q12,
    "q13_ecdf_daily_max" -> q13,
    "q14_asof_grid" -> q14,
    "q15_pivot_daily_type" -> q15,
    "q16_interpolate" -> q16,
    "q17_capacity" -> q17,
    "q18_rise_set" -> q18,
    "q19_quality_flags" -> q19,
    "q20_dataset_scores" -> q20,
    "q21_sessions" -> q21,
    "q22_solar_geometry" -> q22,
    "q23_solar_position_bin" -> q23,
    "q24_cv_folds" -> q24,
    "q25_rayleigh" -> q25,
    "q26_tz_offset" -> q26,
    "q27_dilation_cumfrac" -> q27,
    "q28_point_mass" -> q28,
    "q29_wide_pivot" -> q29,
    "q30_cdf_resample" -> q30,
    "q31_asof_backward" -> q31,
    "q32_ols_slope" -> q32,
    "q33_loss_ratio" -> q33,
    "q34_holdout_split" -> q34,
    "q35_mc_stats" -> q35,
    "q36_bundt_median" -> q36,
    "q37_system_profile" -> q37,
    "q38_riseset_grid" -> q38,
    "q39_cv_rmse" -> q39,
    "q40_salted_agg" -> q40,
    "q41_scan_rates" -> q41,
    "q42_dst_repair" -> q42,
    "q43_rate_segments" -> q43,
    "q44_sensor_select" -> q44,
    "q45_shapley" -> q45,
    "q46_polar_transform" -> q46,
    "q47_dst_apply" -> q47,
    "q48_clip_stats" -> q48,
    "q49_clipping_verdict" -> q49,
    "q50_filled_energy" -> q50,
    "q51_capacity_shifts" -> q51,
    "q52_dilation_grid" -> q52,
    "q53_profile_gram" -> q53,
    "q54_clear_days" -> q54,
    "q55_sunrise_grid" -> q55,
    "q56_undilate" -> q56,
    "q57_shade_projection" -> q57,
    "q58_extra_matrix" -> q58,
    "q59_isotonic" -> q59,
    "q60_profile_interval" -> q60,
    "q61_latitude_study" -> q61,
    "q62_longitude_study" -> q62,
    "q63_orientation_cells" -> q63,
    "q64_latitude_study_filled" -> q64,
    "q65_longitude_study_filled" -> q65,
    "q88_latstudy_filled_scale" -> q88,
    "q89_latstudy_filled_daygrain" -> q89,
    "q66_orientation_cells_filled" -> q66,
    "d43_pii_mask" -> d43,
    "d44_line_boilerplate" -> d44,
    "d45_intradoc_lines" -> d45,
    "q67_dbscan_quality" -> q67,
    "q68_clearsky_dp" -> q68,
    "q69_dst_repair" -> q69,
    "q70_sort_dedup" -> q70,
    "q71_ground_truth_harness" -> q71,
    "q72_quantile_irls" -> q72,
    "q73_power_iteration" -> q73,
    "q74_mc_draw_stream" -> q74,
    "q75_pvpro_decompose" -> q75,
    "q76_soiling_irls" -> q76,
    "q77_banded_cholesky" -> q77,
    "q78_asof_join" -> q78,
    "q79_interval_join" -> q79,
    "q80_huber_irls" -> q80,
    "q81_seasonal_threshold" -> q81,
    "q82_interval_rule" -> q82,
    "q83_asof_forward" -> q83,
    "q84_sensor_identify" -> q84,
    "q85_sensor_choice" -> q85,
    "q90_sensor_huber" -> q90,
    "q91_sensor_huber_fleet" -> q91,
    "q92_heatmap_table" -> q92,
    "q93_clipped_times" -> q93,
    "q94_scsf_index" -> q94,
    "q95_circ_dist" -> q95,
    "q96_daily_max_pdf" -> q96,
    "q97_cdf_analysis" -> q97,
    "q98_scsf_undilated" -> q98,
    "q99_fleet_longitude" -> q99,
    "q100_ephemeris" -> q100,
    "q86_loss_factor" -> q86,
    "q87_pvpro5_replay" -> q87,
    "p01_fleet_pipeline" -> p01,
    "p02_dilation" -> p02,
    "p03_quantile_clearsky" -> p03,
    "p04_pca_shade" -> p04,
    "p05_pvpro_post" -> p05,
    "p06_fleet_relational" -> p06,
    "p07_report_relational" -> p07,
    "j01_json_extract" -> j01,
    "m01_binary_features" -> m01,
    "m02_frame_sample" -> m02,
    "m03_multimodal_pack" -> m03,
    "m04_blob_exact" -> m04,
    "m05_chunk_shared" -> m05,
    "d01_dedup_stats" -> d01,
    "d02_exact_dup_groups" -> d02,
    "d03_token_stats" -> d03,
    "d04_quality_scores" -> d04,
    "d05_langid" -> d05,
    "d06_ngram_jaccard" -> d06,
    "d07_minhash_lsh" -> d07,
    "d08_simhash" -> d08,
    "d09_dup_components" -> d09,
    "d10_minhash_estimate" -> d10,
    "d11_winnow_pairs" -> d11,
    "d12_rolling_minhash" -> d12,
    "e01_cosine_topk" -> e01,
    "e02_centroid_assign" -> e02,
    "e03_sign_lsh_buckets" -> e03,
    "e04_cosine_neardup" -> e04,
    "e21_neardup_bucketed" -> e21,
    "e05_ivf_topk" -> e05,
    "e09_ivf_trained" -> e09,
    "e10_pq_adc" -> e1011,
    "e11_ivf_pq" -> e1011,
    "d29_hll_calibration" -> d29,
    "e12_prototype_prune" -> e12,
    "e13_ivf_recall" -> e13,
    "e15_pq_exact" -> e15,
    "e22_ivf_pq_fixed" -> e22,
    "e16_adc_refine" -> e16,
    "e17_silhouette" -> e17,
    "e06_scalar_quant" -> e06,
    "e07_quant_recall" -> e07,
    "e08_semantic_dedup" -> e08,
    "d13_repetition" -> d13,
    "d14_contamination" -> d14,
    "d15_delta_dedup" -> d15,
    "d16_vocab" -> d16,
    "d17_dup_spans" -> d17,
    "d18_bloom_delta" -> d15, // bloom plan, identical verdicts by construction
    "d19_lm_score" -> d19,
    "d20_compress_ratio" -> d20,
    "d30_dsir_weights" -> d30,
    "d31_source_kl" -> d31,
    "d32_pii_scan" -> d32,
    "d33_bpe_pairs" -> d33,
    "d34_hll_registers" -> d34,
    "d35_bpe_encode_fixed" -> d35,
    "d36_leaksafe_split" -> d36,
    "d37_seed_quality" -> d37,
    "d38_cms_heavy_hitters" -> d38,
    "d39_bloom_fpr" -> d39,
    "d40_component_histogram" -> d40,
    "d41_nb_quality" -> d41,
    "d42_canonical_select" -> d42,
    "e18_ivf_recall_gate" -> annRecallGate,
    "e19_adc_recall_gate" -> annRecallGate,
    "e20_ivfpq_recall_gate" -> annRecallGate,
    "e23_sharded_recall_gate" -> annRecallGate,
    "e24_hier_serve_gate" -> annRecallGate,
    "d25_bpe_merges" -> d25,
    "d26_bpe_encode" -> d26,
    "e14_matryoshka_recall" -> e14,
    "d21_gopher_rules" -> d21,
    "d22_bigram_lm" -> d22,
    "d23_source_report" -> d23,
    "d24_token_chunks" -> d24,
    "c01_corpus_pipeline" -> c01,
    "d27_source_cap" -> d27,
    "d28_tfidf_terms" -> d28,
    "t07_length_batches" -> t07,

    "t01_stratified_sample" -> t01,
    "t02_mixture_weights" -> t02,
    "t03_pack_sequences" -> t03,
    "t04_interleave" -> t04,
    "t05_budget_select" -> t05,
    "t06_epoch_order" -> t06,
    "t08_curriculum" -> t08
  ).map { case (k, v) => k -> v.trim.replaceAll("\\s+", " ") }
}
