-- Ported from the sessionization-precursor shape: per-user previous
-- event timestamp via LAG over a timestamp ordering, plus a same-day
-- flag — the building block of gap-based session ids.  (EXTRACT(EPOCH)
-- is not in the common dialect, so the gap stays a timestamp pair.)
SELECT event_id,
       user_id,
       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
       CAST(CAST(ts AS DATE) =
            CAST(LAG(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS DATE)
            AS INT) AS same_day
FROM events
WHERE user_id <= 20
