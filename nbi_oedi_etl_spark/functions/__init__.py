from nbi_oedi_etl_spark.functions.scalars import (
    dotted,
    key_fingerprint,
    quoted,
    upgrade_str,
)

__all__ = ["dotted", "key_fingerprint", "quoted", "upgrade_str"]
