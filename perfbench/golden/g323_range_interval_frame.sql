-- Ported from clientpositive/windowing_windowspec.q interval-range
-- section: RANGE frame bounded by a time interval.
SELECT user_id, ts,
       CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
         AS BIGINT) AS events_last_hour
FROM events WHERE user_id <= 5
ORDER BY user_id, ts
