-- Ported from the per-group top-1 idiom (windowing row_number + filter):
-- each user's single highest-value event, ties broken by event_id.
SELECT user_id, event_id, event_type, ROUND(value, 2) AS v
FROM (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rn
  FROM events
) t
WHERE rn = 1
