"""Query catalog: importing this package registers every implemented query
(with its DuckDB oracle SQL) into ``registry.REGISTRY``.

One module per SURVEY.md §2 operator group:

- ``sources``: A, scans, sinks and format roundtrips (a1–a3, a8–a12).
- ``relational``: B projections, C joins, D12–D14 grouping aggregates,
  E3 windows, F sorts and samples, G set operations, H scalar functions,
  and the x6 pivot/unpivot/having and x7 skew extensions.
- ``tpch``: X6, the 22 TPC-H shapes and the derived ``partsupp`` table.
- ``stats``: D1–D11 aggregates, the flagship summary, grouped quantiles
  and the x50/x51 column profiles.
- ``pipeline``: the reference pipeline's C1, D9, E1, E2 and J1 operators.
- ``streaming``: I, event-time windows and Structured Streaming (i1–i15,
  e3b).
- ``near_dup``: X1–X3 exact and near-duplicate detection and vector search;
  owns the MinHash, SimHash, shingle and cosine SQL fragments.
- ``corpus``: X4 text analysis and corpus curation (quality filters,
  chunking, mixing, sampling).
- ``media``: X5 multimodal columns (image, audio, video, archive decode).
- ``lake``: X8 merges and the snapshot-committed manifest table.
- ``analytics``: time-series, funnel, graph, clustering and J UDF/UDAF/UDTF
  queries.
"""

from ..registry import REGISTRY, Query  # noqa: F401

from . import sources  # noqa: F401,E402
from . import relational  # noqa: F401,E402
from . import tpch  # noqa: F401,E402
from . import stats  # noqa: F401,E402
from . import pipeline  # noqa: F401,E402
from . import streaming  # noqa: F401,E402
from . import near_dup  # noqa: F401,E402
from . import corpus  # noqa: F401,E402
from . import media  # noqa: F401,E402
from . import lake  # noqa: F401,E402
from . import analytics  # noqa: F401,E402
