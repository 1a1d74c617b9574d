"""Sources & sinks: file formats, JDBC, and REST hooks.

The reference's connector surface (``MSSQL``) lives in
:mod:`flowbyte_spark.compat`; the modules here are what it and the
queries build on.
"""

from flowbyte_spark.sources.files import read_table, write_table  # noqa: F401
