-- Ported from the timestamp-bucketing shapes (date_trunc over an event
-- stream): hourly counts and value sums per type over the events table.
SELECT date_trunc('hour', ts) AS h,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY date_trunc('hour', ts), event_type
