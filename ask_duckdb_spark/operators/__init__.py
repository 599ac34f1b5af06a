"""Named operator/query library.

Every operator from SURVEY.md §2 (and the scale extensions §2.9) is
registered here as a ``(spark, sf_dir) -> DataFrame`` callable plus —
when SQL-expressible — a DuckDB oracle SQL twin. ``__spark_entry__``
re-exports the registry for the driver's differential harness.
"""

from .registry import QUERIES, ORACLES, query  # noqa: F401

# Importing the modules populates the registry.
from . import relational  # noqa: F401,E402
from . import dialect  # noqa: F401,E402
from . import dedup  # noqa: F401,E402
from . import similarity  # noqa: F401,E402
from . import textstats  # noqa: F401,E402
from . import sessionize  # noqa: F401,E402
from . import multimodal  # noqa: F401,E402
from . import scrub  # noqa: F401,E402
from . import nl_queries  # noqa: F401,E402
from . import profile  # noqa: F401,E402
from . import layout  # noqa: F401,E402
from . import stats_audit  # noqa: F401,E402
from . import hygiene  # noqa: F401,E402
