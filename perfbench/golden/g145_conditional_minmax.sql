-- Ported from the conditional-aggregate .q family: MIN/MAX over CASE
-- projections — per-type extremes computed in one pass without a pivot.
SELECT user_id % 10 AS cohort,
       ROUND(MAX(CASE WHEN event_type = 'purchase' THEN value END), 2)
         AS max_purchase,
       ROUND(MIN(CASE WHEN event_type = 'error' THEN value END), 2)
         AS min_error,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks
FROM events
GROUP BY user_id % 10
