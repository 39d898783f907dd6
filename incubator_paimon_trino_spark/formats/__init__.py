"""File formats read and written in Python workers: the Avro codec and the one Python data-file reader."""
