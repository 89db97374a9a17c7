"""Sources: change-event WAL generation, tailing, and payload decode."""

from ethereum_etl_spark.sources.wal import (  # noqa: F401
    generate_chain_wal,
    generate_repo_wal,
    WalTailer,
)
from ethereum_etl_spark.sources.decode import EntityDecoder, decode_entity  # noqa: F401
