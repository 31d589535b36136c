"""The VPL leg of replay_small: three stream declarations run through
`vpl.run_program`, each with the DuckDB SQL its result must equal.

- `BigPurchase`: a filter with a projection.
- `ViewsPerHour`: a per-user tumbling one-hour aggregate with a HAVING.
- `SignupToPurchase`: a `->` sequence correlated on user, `.within(30m)`.
"""

from __future__ import annotations

PROGRAM = """
stream BigPurchase = purchase
    .where(value > 120)
    .emit(event_id: event_id, user_id: user_id, amount: value)

stream ViewsPerHour = view
    .partition_by(user_id)
    .window(1h)
    .aggregate(n: count(), top: max(value))
    .having(n > 1)

stream SignupToPurchase = signup as s
    -> purchase where user_id == s.user_id as p
    .within(30m)
    .emit(user_id: s.user_id, signup_id: s.event_id, purchase_id: p.event_id)
"""

# stream name -> (columns compared, DuckDB SQL over the `events` view)
ORACLES = {
    "BigPurchase": (
        ["event_id", "user_id", "amount"],
        """SELECT event_id, user_id, value AS amount FROM events
           WHERE event_type = 'purchase' AND value > 120""",
    ),
    "ViewsPerHour": (
        ["user_id", "n", "top"],
        """SELECT user_id, count(*) AS n, max(value) AS top FROM events
           WHERE event_type = 'view'
           GROUP BY user_id, time_bucket(INTERVAL '1 hour', ts)
           HAVING count(*) > 1""",
    ),
    "SignupToPurchase": (
        ["user_id", "signup_id", "purchase_id"],
        """SELECT s.user_id AS user_id, s.event_id AS signup_id,
                  p.event_id AS purchase_id
           FROM events s JOIN events p
             ON s.user_id = p.user_id
            AND s.event_type = 'signup' AND p.event_type = 'purchase'
            AND p.ts > s.ts
            AND epoch_us(p.ts) <= epoch_us(s.ts) + 1800000000""",
    ),
}
