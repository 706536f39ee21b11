from .tables import STAR_TABLES, load_table, register_star_views  # noqa: F401
from .domain import (  # noqa: F401
    employees, commute_validations, sport_activities, cdc_events,
    register_domain_views, domain_cte_sql,
)
from .txnlog import TxnTable, TxnConflictError, TxnReplayError  # noqa: F401
