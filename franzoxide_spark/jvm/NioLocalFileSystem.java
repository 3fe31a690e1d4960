package franzoxide.hadoop;

import org.apache.hadoop.fs.LocalFileSystem;

/** The checksummed local FileSystem ({@code fs.file.impl}) over NioRawLocalFileSystem. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
