package vaero.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/** {@link LocalFileSystem} ({@code .crc} checksums) over {@link NioRawLocalFileSystem}. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
